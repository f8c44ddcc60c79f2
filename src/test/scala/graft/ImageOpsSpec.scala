package graft

import org.scalatest.funsuite.AnyFunSuite

/** Properties of the `graft.multimodal.Multimodal` image kernels: the
  * dHash, the synthetic PNG corpus, and the md5 gray-image law the
  * `dedup_image_dhash_oracle` replay rests on. The suite keeps the name
  * it had when it also covered the deleted `ml/ImageOps` helpers, so its
  * test ids stay stable. */
class ImageOpsSpec extends AnyFunSuite {

  test("dHash: stable, near-dup robust, far for different content, fallback for garbage") {
    import graft.multimodal.Multimodal
    def gradientPng(w: Int, h: Int, tweak: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8))
      if (tweak) img.setRGB(1, 1, 0xffffff) // single-pixel edit
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def checkerPng(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, if (((x / 8) + (y / 8)) % 2 == 0) 0xffffff else 0x000000)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = Multimodal.dhash64(gradientPng(64, 64, tweak = false)).get
    val same = Multimodal.dhash64(gradientPng(64, 64, tweak = false)).get
    val tweaked = Multimodal.dhash64(gradientPng(64, 64, tweak = true)).get
    val resizedSrc = Multimodal.dhash64(
      Multimodal.ImageIoCodec.resize(gradientPng(128, 128, tweak = false), 64).get).get
    val other = Multimodal.dhash64(checkerPng(64, 64)).get
    assert(base == same)                                          // deterministic
    assert(java.lang.Long.bitCount(base ^ tweaked) <= 4)          // near-dup close
    assert(java.lang.Long.bitCount(base ^ resizedSrc) <= 6)       // survives resize
    assert(java.lang.Long.bitCount(base ^ other) > 10)            // different far
    assert(Multimodal.dhash64(Array.fill(40)(3.toByte)).isEmpty)  // garbage → None
    // fallback path: exact byte dups still pair up through the banded join
    assert(Multimodal.byteContentHash(Array[Byte](1, 2, 3)) ==
      Multimodal.byteContentHash(Array[Byte](1, 2, 3)))
    assert(Multimodal.byteContentHash(Array[Byte](1, 2, 3)) !=
      Multimodal.byteContentHash(Array[Byte](1, 2, 4)))
  }

  test("syntheticPng: deterministic bytes, twin within 2 Hamming bits, seeds far apart") {
    import graft.multimodal.Multimodal
    val seeds = Seq(0L, 50L, 100L, 150L, 200L, 250L)
    seeds.foreach { s =>
      // byte-reproducible render+encode
      assert(java.util.Arrays.equals(Multimodal.syntheticPng(s), Multimodal.syntheticPng(s)))
      val base = Multimodal.dhash64(Multimodal.syntheticPng(s)).get
      val twin = Multimodal.dhash64(Multimodal.syntheticPng(s, perturbed = true)).get
      assert(java.lang.Long.bitCount(base ^ twin) <= 2,
        s"seed $s: twin drifted ${java.lang.Long.bitCount(base ^ twin)} bits")
    }
    // distinct seeds: dHashes far apart (no accidental planted cross-pairs)
    val hs = seeds.map(s => Multimodal.dhash64(Multimodal.syntheticPng(s)).get)
    for (i <- hs.indices; j <- hs.indices if i < j)
      assert(java.lang.Long.bitCount(hs(i) ^ hs(j)) > 10,
        s"seeds ${seeds(i)} / ${seeds(j)} collide perceptually")
  }

  test("md5GrayPng: decode->resize is the identity, so dHash == direct md5 bit math") {
    import graft.multimodal.Multimodal
    val md = java.security.MessageDigest.getInstance("MD5")
    def gray(seed: Long, x: Int, y: Int, perturbed: Boolean): Int = {
      val g = md.digest(s"graft-dimg:$seed:$x:$y".getBytes("UTF-8"))(0) & 0xff
      if (perturbed && x == 3 && y == 2) math.min(255, g + 6) else g
    }
    def directHash(seed: Long, perturbed: Boolean): Long = {
      var h = 0L; var bit = 0
      for (y <- 0 until 8; x <- 0 until 8) {
        if (gray(seed, x, y, perturbed) < gray(seed, x + 1, y, perturbed)) h |= (1L << bit)
        bit += 1
      }
      h
    }
    // the law dedup_image_dhash_oracle's SQL replay rests on: the REAL
    // decode -> drawImage(9x8) -> luma -> gradient path returns exactly
    // the bits computed straight from the md5 bytes
    for (seed <- Seq(0L, 7L, 10L, 123L); p <- Seq(false, true)) {
      val engine = Multimodal.dhash64(Multimodal.md5GrayPng(seed, p))
      assert(engine.contains(directHash(seed, p)),
        s"seed=$seed perturbed=$p: engine $engine != direct ${directHash(seed, p)}")
    }
    // the planted twin sits within 2 Hamming bits of its original
    for (seed <- Seq(0L, 10L, 50L)) {
      val d = java.lang.Long.bitCount(directHash(seed, false) ^ directHash(seed, true))
      assert(d <= 2, s"twin distance $d for seed $seed")
    }
  }
}
