package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale-hygiene audit — the checks a reviewer otherwise
  * re-does by hand every round, made un-forgettable:
  *
  *  - no Scala `udf()` (codegen'd builtins / native Catalyst expressions
  *    only — a Scala UDF is an interpreted black box Catalyst can
  *    neither push through nor codegen);
  *  - no `???` stubs in shipped code;
  *  - every driver-side action (`collect`/`head`/`collectAsList`/
  *    `toLocalIterator`) carries a `// bounded: <why>` marker on the
  *    same or one of the two preceding lines — the documented reason
  *    the materialized result cannot scale with the corpus (1-row
  *    aggregates, ≤cap samples, #source/#list frames, limit-k
  *    argmaxes). A new unbounded collect cannot land without either
  *    the marker (visible in review, greppable) or failing here;
  *  - sessions are built only by `GraftSession`, across main and test
  *    sources, so every entry point runs the same engine confs and rules;
  *  - no code adds a session artifact (`addArtifact`, `addJar`,
  *    `ADD JAR`), and the artifact-isolation and codegen-cache confs are
  *    set only in `GraftSession`, which turns isolation off so that every
  *    session shares one generated-class cache;
  *  - one way to memoize per session and one way to fuse a checkpoint:
  *    `ConcurrentHashMap` lives only in `SessionMemo` (plus the
  *    executor-side model singleton, which is not session-keyed), and
  *    `CheckpointBridge.checkpointRdd` is called once, by `CheckpointOps`;
  *  - one way to load a model: `ExecutorSingleton.getOrCreate` is called
  *    once, by `ModelStage`, whose singleton key is a digest of the model
  *    factory, so no caller-chosen string can make two models share a slot;
  *  - one way to call a native kernel: no `call_function("graft_…")`, no
  *    `nativeAvailable` probe, no `createOrReplaceTempFunction` and no
  *    `catch { case _: Throwable => None }` fallback in main source;
  *  - the DuckDB MinHash signature (`MIN(h1 + j * h2)`) is generated once,
  *    in `MinhashSql`, and the Spark one is built once, in `Dedup`, by the
  *    native kernel, so a change to k or the hashing has one place to go
  *    on each side; likewise the Spark LSH band join and the exact
  *    Jaccard formula live only in `Dedup`.
  */
class SourceAuditSpec extends AnyFunSuite {

  private def sources: Seq[(String, Vector[String])] = sourcesUnder("src/main/scala/graft")

  private def sourcesUnder(dir: String): Seq[(String, Vector[String])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"source root not found at $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => (p.toString, Files.readAllLines(p).asScala.toVector))
      .toVector
    finally walk.close()
  }

  /** Per-line comment-only flags with POSITIONAL block-comment tracking:
    * a line is comment-only iff no non-whitespace character appears
    * outside comment spans. The trim-prefix heuristic this replaces had
    * two holes: code followed by a trailing block-comment OPEN left
    * `inBlock` false (subsequent star-prefixed lines audited as code →
    * spurious failures), and code after a block-comment CLOSE on the
    * closing line was flagged as comment (escaping the udf()/bounded
    * audits). Double-quoted string contents are skipped so a literal
    * containing comment markers (URLs, SQL) cannot open a phantom block.
    */
  private def commentFlags(lines: Vector[String]): Vector[Boolean] = {
    var inBlock = false
    lines.map { line =>
      var i = 0
      var code = false
      val n = line.length
      var lineDone = false
      while (i < n && !lineDone) {
        if (inBlock) {
          val close = line.indexOf("*/", i)
          if (close >= 0) { inBlock = false; i = close + 2 } else i = n
        } else {
          val c = line.charAt(i)
          if (c == '/' && i + 1 < n && line.charAt(i + 1) == '*') {
            inBlock = true; i += 2
          } else if (c == '/' && i + 1 < n && line.charAt(i + 1) == '/') {
            lineDone = true // line comment: rest of line is comment
          } else if (c == '"') {
            code = true; i += 1
            while (i < n && line.charAt(i) != '"') {
              if (line.charAt(i) == '\\' && i + 1 < n) i += 2 else i += 1
            }
            i += 1
          } else {
            if (!c.isWhitespace) code = true
            i += 1
          }
        }
      }
      !code
    }
  }

  test("no Scala udf() in main source") {
    val hits = for {
      (f, lines) <- sources
      flags = commentFlags(lines)
      (l, i) <- lines.zipWithIndex
      if !flags(i) && l.matches(""".*(^|[^\w.])udf\s*\(.*""")
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"udf() in main source: ${hits.mkString(", ")}")
  }

  test("no ??? stubs in main source") {
    val hits = for {
      (f, lines) <- sources
      flags = commentFlags(lines)
      (l, i) <- lines.zipWithIndex
      if !flags(i) && l.contains("???")
    } yield s"$f:${i + 1}"
    assert(hits.isEmpty, s"??? stub in main source: ${hits.mkString(", ")}")
  }

  test("sessions are built only in GraftSession.scala") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val hits = for {
      (f, lines) <- sourcesUnder("src/main/scala") ++ sourcesUnder("src/test/scala")
      flags = commentFlags(lines)
      (l, i) <- lines.zipWithIndex
      if !flags(i) && builderCall.findFirstIn(l).isDefined
    } yield (Paths.get(f).getFileName.toString, s"$f:${i + 1}")
    assert(hits.exists(_._1 == "GraftSession.scala"), "GraftSession no longer builds a session")
    val outside = hits.filterNot(_._1 == "GraftSession.scala").map(_._2)
    assert(outside.isEmpty,
      "session builder called outside GraftSession (use GraftSession.fromEnv/local): " +
        outside.mkString(", "))
  }

  /** Code (non-comment) lines under `dirs` matching `pattern`, as
    * (source path, "path:line"). */
  private def codeHits(pattern: scala.util.matching.Regex, dirs: String*): Seq[(String, String)] =
    for {
      (f, lines) <- dirs.flatMap(sourcesUnder)
      flags = commentFlags(lines)
      (l, i) <- lines.zipWithIndex
      if !flags(i) && pattern.findFirstIn(l).isDefined
    } yield (f, s"$f:${i + 1}")

  private def mainCodeHits(pattern: scala.util.matching.Regex): Seq[(String, String)] =
    codeHits(pattern, "src/main/scala")

  test("no session artifact is added, and the codegen-cache confs are set only in GraftSession.scala") {
    // GraftSession turns artifact isolation off so that every session
    // shares one classloader, and so one codegen cache; that loses nothing
    // only while no code adds a jar, file or class to a session
    val added = mainCodeHits("""\baddArtifacts?\b|\baddJar\b|(?i)\badd\s+jars?\b""".r)
    assert(added.isEmpty,
      "session artifact added (artifact isolation is off in GraftSession): " +
        added.map(_._2).mkString(", "))
    val allowed = Seq("/GraftSession.scala", "/SourceAuditSpec.scala")
    Seq("spark.sql.artifact.isolation.enabled", "spark.sql.codegen.cache.maxEntries").foreach { conf =>
      val sites = codeHits(java.util.regex.Pattern.quote(conf).r, "src/main/scala", "src/test/scala")
      val outside = sites.filterNot(h => allowed.exists(h._1.endsWith))
      assert(sites.exists(_._1.endsWith(allowed.head)) && outside.isEmpty,
        s"$conf is one engine constant, set in GraftSession.configure; also set at: " +
          outside.map(_._2).mkString(", "))
    }
  }

  test("ConcurrentHashMap appears only in SessionMemo.scala and ml/ModelStage.scala") {
    val hits = mainCodeHits("""\bConcurrentHashMap\b""".r)
    val allowed = Seq("/ops/SessionMemo.scala", "/ml/ModelStage.scala")
    assert(hits.exists(_._1.endsWith(allowed.head)), "SessionMemo no longer holds the memo map")
    val outside = hits.filterNot(h => allowed.exists(h._1.endsWith)).map(_._2)
    assert(outside.isEmpty,
      "hand-written concurrent map outside SessionMemo (use graft.ops.SessionMemo): " +
        outside.mkString(", "))
  }

  test("ExecutorSingleton.getOrCreate is called once, from ml/ModelStage.scala") {
    val calls = mainCodeHits("""\bExecutorSingleton\s*\.\s*getOrCreate\s*\(""".r)
    assert(calls.size == 1 && calls.head._1.endsWith("/ml/ModelStage.scala"),
      "every model stage loads its models through ModelStage.model, keyed by the factory; " +
        "ExecutorSingleton.getOrCreate called at: " + calls.map(_._2).mkString(", "))
  }

  test("CheckpointBridge.checkpointRdd is called once, from CheckpointOps.scala") {
    val calls = mainCodeHits("""(?<!def )\bcheckpointRdd\s*\(""".r)
    assert(calls.size == 1 && calls.head._1.endsWith("/ops/CheckpointOps.scala"),
      "the fused checkpoint has one implementation, " +
        "CheckpointOps.localCheckpointAggregate; checkpointRdd called at: " +
        calls.map(_._2).mkString(", "))
  }

  test("the DuckDB MinHash signature SQL is generated in one place") {
    val sites = mainCodeHits("""MIN\(h1 \+ """.r)
    assert(sites.size == 1,
      "every MinHash oracle uses MinhashSql.signature; signature SQL at: " +
        sites.map(_._2).mkString(", "))
  }

  test("the md5 MinHash signature is built at one site, with no declarative minimum in operators/") {
    val sites = mainCodeHits("""(?<!class )\bMinHashMd5\s*\(""".r)
    assert(sites.size == 1 && sites.head._1.endsWith("/operators/Dedup.scala"),
      "every md5 MinHash signature goes through Dedup.withMinhashSignatureMd5; " +
        "MinHashMd5 built at: " + sites.map(_._2).mkString(", "))
    // a k-slot `array_min(transform(... h1 + j * h2 ...))` tree: the
    // declarative form the kernel replaced (the reference copy lives in
    // MinHashMd5Spec)
    val declarativeMin = """array_min\s*\(\s*transform\([^\n]*\n?[^\n]*\bh1\b[^\n]*\+[^\n]*\bh2\b""".r
    val copies = for {
      (f, lines) <- sourcesUnder("src/main/scala/graft/operators")
      flags = commentFlags(lines)
      code = lines.indices.map(i => if (flags(i)) "" else lines(i)).mkString("\n")
      if declarativeMin.findFirstIn(code).isDefined
    } yield f
    assert(copies.isEmpty,
      "declarative h1 + j*h2 MinHash minimum in: " + copies.mkString(", "))
  }

  test("native kernels are built one way, with no name registry, session probe or catch-all fallback") {
    // every graft_* expression is built through ColumnBridge by its
    // operator, so it resolves in any session; a by-name call or a
    // swallowed kernel require() would bring back a second, silently
    // different path
    Seq("by-name graft_* call" -> """call_function\(\s*"graft_""".r,
        "active-session probe" -> """\bnativeAvailable\b""".r,
        "function registration" -> """\bcreateOrReplaceTempFunction\b""".r,
        "catch-all fallback to None" -> """case\s+_\s*:\s*Throwable\s*=>\s*None""".r)
      .foreach { case (what, pattern) =>
        val sites = mainCodeHits(pattern)
        assert(sites.isEmpty, s"$what in main source: " + sites.map(_._2).mkString(", "))
      }
  }

  test("the LSH band join key and the exact Jaccard denominator live only in operators/Dedup.scala") {
    Seq("band_hash join key" -> "\"band_hash\"".r,
        "size(a) + size(b) - inter Jaccard denominator" -> """size\([^)]*\)\s*\+\s*size\([^)]*\)\s*-""".r)
      .foreach { case (what, pattern) =>
        val sites = mainCodeHits(pattern)
        assert(sites.nonEmpty && sites.forall(_._1.endsWith("/operators/Dedup.scala")),
          s"every MinHash LSH caller composes Dedup.lshPairs / Dedup.jaccard; $what at: " +
            sites.map(_._2).mkString(", "))
      }
  }

  test("every driver-side action carries a '// bounded:' justification") {
    val action = """.*(\.collect\(\)|\.head\(\)|\.collectAsList\(|\.toLocalIterator).*""".r
    // Marker must be tied to the statement: on the action line itself, or
    // on comment-ONLY lines immediately above it (a contiguous comment run
    // touching the action line). A marker two lines up with unrelated code
    // in between no longer sanctions the action.
    def marked(lines: Vector[String], flags: Vector[Boolean], i: Int): Boolean = {
      if (lines(i).contains("// bounded:")) true
      else {
        var j = i - 1
        var found = false
        while (j >= 0 && flags(j) && !found) {
          if (lines(j).contains("bounded:")) found = true
          j -= 1
        }
        found
      }
    }
    val unmarked = for {
      (f, lines) <- sources
      flags = commentFlags(lines)
      (l, i) <- lines.zipWithIndex
      if !flags(i) && action.matches(l)
      if !marked(lines, flags, i)
    } yield s"$f:${i + 1}: ${l.trim.take(80)}"
    assert(unmarked.isEmpty,
      "driver-side action without a '// bounded:' justification:\n" +
        unmarked.mkString("\n"))
  }

  /** Rot detector for '// bounded:' justifications: a marker that NAMES a
    * variable (camelCase or underscored token, e.g. "≤ sampleCap rows")
    * is only evidence while that variable still exists at the call site —
    * a rename or code move leaves the comment describing nothing. Flag
    * markers whose every named variable is absent from the surrounding
    * ±5 lines (comment-only lines and the justification text itself
    * excluded — a bound restated in prose must not self-certify). Markers
    * that name no variable ("1-row argmax", "#lists centroid rows") pass
    * vacuously: they state shape, not a binding, and cannot rot this way.
    * Same philosophy as PlansSpec's whitelist-must-match rule. */
  private def rottedBoundedMarkers(lines: Vector[String],
                                   flags: Vector[Boolean]): Seq[(Int, String)] = {
    val ident = """[A-Za-z][A-Za-z0-9_]*""".r
    def namedVars(just: String): Seq[String] =
      ident.findAllIn(just).toSeq.filter(t =>
        t.contains("_") || t.matches("""[a-z]+[A-Z][A-Za-z0-9]*"""))
    for {
      (l, i) <- lines.zipWithIndex.toSeq
      mIdx = l.indexOf("bounded:")
      if mIdx >= 0 && (l.contains("// bounded:") || flags(i))
      vars = namedVars(l.substring(mIdx + "bounded:".length))
      if vars.nonEmpty
      window = (math.max(0, i - 5) to math.min(lines.length - 1, i + 5))
        .map(j =>
          if (j == i) l.substring(0, mIdx)
          else if (flags(j)) "" // a variable named only in comments can rot too
          else lines(j))
        .mkString("\n")
      if !vars.exists(v =>
        ("""(?s).*\b""" + java.util.regex.Pattern.quote(v) + """\b.*""").r.matches(window))
    } yield (i + 1, vars.mkString(","))
  }

  test("'// bounded:' justifications naming a variable must still bind within 5 lines") {
    val rotted = for {
      (f, lines) <- sources
      flags = commentFlags(lines)
      (line, vars) <- rottedBoundedMarkers(lines, flags)
    } yield s"$f:$line (names: $vars)"
    assert(rotted.isEmpty,
      "rotted '// bounded:' marker — named variable absent from the " +
        "surrounding 5 lines:\n" + rotted.mkString("\n"))
  }

  test("the bounded-marker rot detector flags a deliberately rotted marker") {
    // healthy: the named bound appears on the action line itself
    val healthy = Vector(
      "  val pts = vectors.limit(sampleCap)",
      "    .collect() // bounded: ≤ sampleCap rows")
    assert(rottedBoundedMarkers(healthy, commentFlags(healthy)).isEmpty)
    // rotted: the justification names fooCap, which exists nowhere nearby
    // (the variable was renamed but the comment kept the old name)
    val rotted = Vector(
      "  val pts = vectors.limit(barMax)",
      "    .collect() // bounded: ≤ fooCap rows")
    assert(rottedBoundedMarkers(rotted, commentFlags(rotted)).map(_._1) == Seq(2))
    // vacuous: no named variable — shape-only justifications never rot
    val shapeOnly = Vector("  df.agg(max(col(\"x\"))).head() // bounded: 1-row agg")
    assert(rottedBoundedMarkers(shapeOnly, commentFlags(shapeOnly)).isEmpty)
  }
}
