package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's cross-round calibration arithmetic — pure
  * integer/double logic pinned apart from the (wall-clock) main. */
class BenchSpec extends AnyFunSuite {

  test("calibDrift: odd-length ratio vector takes the middle ratio") {
    // ratios 2.0, 4.0, 3.0 -> sorted (2, 3, 4) -> median 3.0
    assert(Bench.calibDrift(Seq(2.0, 8.0, 3.0), Seq(1.0, 2.0, 1.0),
      -1.0, -1.0) == 3.0)
  }

  test("calibDrift: even-length ratio vector averages the middle " +
      "pair (r15 fix pin — upper-middle would bias the drift high)") {
    // ratios 2.0 and 4.0 -> true median 3.0 (upper-middle says 4.0)
    assert(Bench.calibDrift(Seq(2.0, 8.0), Seq(1.0, 2.0),
      -1.0, -1.0) == 3.0)
    // four components, ratios (1, 2, 4, 8) -> (2 + 4) / 2 = 3.0
    assert(Bench.calibDrift(Seq(1.0, 2.0, 4.0, 8.0),
      Seq(1.0, 1.0, 1.0, 1.0), -1.0, -1.0) == 3.0)
    // a failed probe (<= 0 on either side) drops its component and
    // can leave an even-length vector: (2, -, 4) -> (2 + 4) / 2
    assert(Bench.calibDrift(Seq(2.0, -1.0, 8.0), Seq(1.0, 5.0, 2.0),
      -1.0, -1.0) == 3.0)
    assert(Bench.calibDrift(Seq(2.0, 3.0, 8.0), Seq(1.0, -1.0, 2.0),
      -1.0, -1.0) == 3.0)
  }

  test("calibDrift: falls back to the scalar ratio, then to -1") {
    assert(Bench.calibDrift(Seq(-1.0), Seq(-1.0), 4.0, 2.0) == 2.0)
    assert(Bench.calibDrift(Seq.empty, Seq.empty, 4.0, 2.0) == 2.0)
    assert(Bench.calibDrift(Seq.empty, Seq.empty, 4.0, -1.0) == -1.0)
    assert(Bench.calibDrift(Seq.empty, Seq.empty, -1.0, 2.0) == -1.0)
  }

  test("ProfileStats.latencyMs: avg and nearest-rank p99 (the scale " +
      "record's per-batch latency columns)") {
    // 100 batches of 1ms..100ms: avg 50.5ms, p99 = 99th smallest = 99ms
    val s = (1 to 100).map(_ / 1000.0).toArray
    val (avg, p99) = ProfileStats.latencyMs(s)
    assert(math.abs(avg - 50.5) < 1e-9 && math.abs(p99 - 99.0) < 1e-9)
    // small sample: nearest rank never interpolates past an observed
    // value — 3 batches -> ceil(2.97) = 3rd smallest (the max)
    val (a3, p3) = ProfileStats.latencyMs(Array(0.002, 0.001, 0.004))
    assert(math.abs(a3 - 7.0 / 3) < 1e-9 && math.abs(p3 - 4.0) < 1e-9)
    // one batch: avg == p99 == that batch
    val (a1, p1) = ProfileStats.latencyMs(Array(0.005))
    assert(a1 == 5.0 && p1 == 5.0)
    intercept[IllegalArgumentException] {
      ProfileStats.latencyMs(Array.emptyDoubleArray)
    }
  }

  test("ProfileStats.bestPass: picks the minimum-total pass and " +
      "returns its per-batch samples") {
    var pass = 0
    val (total, lats) = ProfileStats.bestPass(2) { timeBatch =>
      pass += 1
      // both passes run 3 batches; the second pass is "faster"
      // (fewer spins), so bestPass must return ITS samples
      val spins = if (pass == 1) 2000000 else 1
      (1 to 3).foreach { _ =>
        timeBatch { var i = 0; var x = 0L
          while (i < spins) { x += i; i += 1 }
          if (x == -1) println(x) }
      }
    }
    assert(pass == 2 && lats.length == 3)
    assert(math.abs(total - lats.sum) < 0.25) // loop overhead only
  }

  test("Profile.Collector: every job ended and every task counted " +
      "right after the drain") {
    val spark = TestSpark.spark
    val collector = new Profile.Collector
    spark.sparkContext.addSparkListener(collector)
    try {
      import org.apache.spark.sql.functions.col
      // two stages: the shuffle map stage and the aggregate's result
      spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count().collect()
      val jobs = collector.drained(spark)
      assert(jobs.size >= 2, jobs)
      assert(jobs.forall(!_.wallSec.isNaN), jobs)
      assert(jobs.map(_.stageTasks).sum > 0, jobs)
      assert(jobs.map(_.tasksEnded).sum == jobs.map(_.stageTasks).sum, jobs)
    } finally spark.sparkContext.removeSparkListener(collector)
  }

  test("Profile.localFiltered: every bucket serves with recall and " +
      "qps, and the low sweep covers every default dial") {
    val recs = Profile.localFiltered(TestSpark.spark, 20000, 500, 16)
    assert(recs.filter(_.section == "build").map(_.bucket) ==
      Seq("graph", "flat"), recs)
    Profile.Buckets.map(_._1).foreach { b =>
      val rs = recs.filter(r => r.section == "bucket" && r.bucket == b)
      assert(rs.map(_.batch) == Seq(100, 1000), rs)
      assert(rs.forall(r => r.qps > 0 && r.recall > 0 && r.recall <= 1 &&
        r.strategy.nonEmpty), rs)
    }
    val sweep = recs.filter(_.section == "low-sweep")
    assert(sweep.map(_.dial) == Profile.LowDials.map { case (np, m, e) =>
      s"np=$np mult=$m efS=$e" }, sweep)
    assert(sweep.forall(r => r.qps > 0 && r.recall > 0 && r.recall <= 1),
      sweep)
  }

  test("every graft.<Main> the docs and tools name still exists") {
    val docs = new java.io.File("tools").listFiles()
      .filter(_.getName.endsWith(".sh")).toSeq ++
      Seq(new java.io.File("README.md"),
        new java.io.File(".claude/skills/verify/SKILL.md"))
    // test suites (`testOnly graft.KnnSpec`) are not mains
    val mainRef = """(?<!testOnly )(?<![\w.])graft\.([A-Z]\w*)""".r
    val named = docs.flatMap(f => mainRef
      .findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(_.group(1))).distinct
    assert(named.contains("Profile") && named.contains("Bench"), named)
    val missing = named.filterNot(n =>
      scala.util.Try(Class.forName(s"graft.$n$$")).isSuccess)
    assert(missing.isEmpty, s"docs name deleted mains: $missing")
  }

  /** `src` with comments and string literals blanked (the code inside
    * `${...}` interpolations is kept); newlines survive, so offsets
    * still map to lines. */
  private def stripNonCode(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def keepInterpolations(from: Int, until: Int): Unit = {
      var j = from
      while (j < until) {
        if (src.startsWith("${", j)) {
          var depth = 1; var e = j + 2
          while (e < until && depth > 0) {
            if (src(e) == '{') depth += 1 else if (src(e) == '}') depth -= 1
            e += 1
          }
          out.append(" " + src.substring(j + 2, e - 1) + " ")
          j = e
        } else { if (src(j) == '\n') out.append('\n'); j += 1 }
      }
    }
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val e = src.indexOf("*/", i + 2)
        val end = if (e < 0) n else e + 2
        src.substring(i, end).foreach(c => if (c == '\n') out.append(c))
        i = end
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var end = if (e < 0) n else e + 3
        while (end < n && src(end) == '"') end += 1
        keepInterpolations(i + 3, math.max(i + 3, end - 3))
        out.append("\"\"")
        i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        keepInterpolations(i + 1, math.min(j, n))
        out.append("\"\"")
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val e = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2)
        out.append("' '")
        i = if (e < 0) n else e + 1
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  /** Public defs of the `operators/`, `sources/` and `streaming/`
    * objects and classes whose name no code in `src/main` uses, as
    * `File.name` keys: identifier occurrences over the stripped
    * sources, the defining `def`s subtracted. */
  private def unreachedDefs(main: java.io.File): Seq[String] = {
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName)
        .flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(main).map(f =>
      f -> stripNonCode(java.nio.file.Files.readString(f.toPath)))
    val all = files.map(_._2).mkString("\n")
    def counts(it: Iterator[String]): Map[String, Int] =
      it.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    val refs = counts("""[A-Za-z_]\w*""".r.findAllIn(all))
    val defs = counts("""\bdef\s+([A-Za-z_]\w*)""".r.findAllMatchIn(all)
      .map(_.group(1)))
    val template = ("""\b(?:object|class|trait)\s+\w+""" +
      """(?:\s+(?:private|protected))?""" +
      """(?:\s+(?:extends|with)\s+[\w.]+)*\s*$""").r
    def deparen(h: String): String = {
      val r = h.replaceAll("""\([^()]*\)|\[[^\[\]]*\]""", "")
      if (r == h) h else deparen(r)
    }
    val token = """[{}]|\bdef\s+([A-Za-z_]\w*)""".r
    files.filter { case (f, _) =>
      val p = f.getPath
      Seq("/operators/", "/sources/", "/streaming/").exists(p.contains)
    }.flatMap { case (f, src) =>
      // brace kinds: T = a named template body, B = anything else
      val stack = scala.collection.mutable.Stack.empty[Char]
      var last = 0
      token.findAllMatchIn(src).flatMap { m =>
        m.matched match {
          case "{" =>
            val head = deparen(src.substring(last, m.start))
              .replace('\n', ' ')
            stack.push(if (template.findFirstIn(head).nonEmpty) 'T' else 'B')
            last = m.end; None
          case "}" =>
            if (stack.nonEmpty) stack.pop()
            last = m.end; None
          case _ =>
            val name = m.group(1)
            val mods = src.substring(src.lastIndexOf('\n', m.start) + 1,
              m.start)
            val public = !Seq("private", "protected", "override")
              .exists(mods.contains)
            if (stack.headOption.contains('T') && public &&
                !Seq("apply", "unapply", "main").contains(name) &&
                refs(name) <= defs(name))
              Some(f.getName.stripSuffix(".scala") + "." + name)
            else None
        }
      }.toList
    }
  }

  test("every public operator, source and streaming def has a caller " +
      "in src/main") {
    // kept without a main caller: each is the reference its specs
    // hold the engine's own path against
    val allowed = Map(
      "Knn.exactDeclarative" -> ("KnnSpec's and PlanPropertiesSpec's " +
        "reference for Knn.exact"),
      "Resident.cachedBytes" -> ("ResidentSpec's and TierBuildSpec's " +
        "actual-bytes measurement for the Resident estimates"))
    val unreached = unreachedDefs(new java.io.File("src/main/scala"))
    assert(allowed.keySet.subsetOf(unreached.toSet),
      s"allowlist entries gained a caller or were deleted: " +
        (allowed.keySet -- unreached))
    val extra = unreached.filterNot(allowed.contains)
    assert(extra.isEmpty, s"public defs with no caller in src/main " +
      s"(delete them, or call them): ${extra.mkString(", ")}")
  }
}
