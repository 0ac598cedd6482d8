package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Diagnostic main: run one gate query cold and print every Spark job
  * with its call site — the tool behind job-count audits (a cold
  * query's fixed job overhead is shuffle-barrier overhead at scale).
  * Also prints the query's Janino compile count and time, then calls
  * it again and prints the second call's compile count (0 when every
  * generated class is served from the codegen cache).
  * Usage: runMain graft.tools.JobTrace <sfDir> <queryName>
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.core.Engine.session("graft-jobtrace", cores = 32)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        jobs.add(f"      stage ${si.stageId}%3d[${si.numTasks}%3d] wall=${wall}%5d ms " +
          f"run=${m.executorRunTime}%5d cpu=${m.executorCpuTime / 1000000}%5d " +
          f"deser=${m.executorDeserializeTime}%4d gc=${m.jvmGCTime}%4d " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%6d KiB " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1024}%6d KiB  ${si.name.takeWhile(_ != '(').trim}")
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val ms = (System.nanoTime() - jobStartNs.getOrDefault(j.jobId, System.nanoTime())) / 1e6
        jobs.add(f"job ${j.jobId}%3d END ${ms}%8.1f ms")
        ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobStartNs.put(j.jobId, System.nanoTime())
        val tasks = j.stageInfos.map(_.numTasks).sum
        val names = j.stageInfos.map(s => s"${s.stageId}:${s.name.takeWhile(_ != '(').trim}[${s.numTasks}]")
          .mkString(" | ")
        jobs.add(f"job ${j.jobId}%3d stages=${j.stageInfos.size}%2d tasks=$tasks%3d  $names")
        if (sys.env.contains("JOBTRACE_DETAILS")) j.stageInfos.foreach { s =>
          val graft = s.details.linesIterator
            .filter(l => l.contains("graft") || l.contains("Dedup") || l.contains("checkpoint"))
            .take(3).mkString(" <- ")
          jobs.add(f"      stage ${s.stageId}[${s.numTasks}]: $graft")
        }
        ()
      }
    })
    // Bench-accounting parity: prebuild the shared corpus-index
    // artifacts (its own `index_sec` metric there) so the trace shows
    // the QUERY's jobs; SPARK_GRAFT_PREBUILD_INDEX=0 includes them.
    if (sys.env.getOrElse("SPARK_GRAFT_PREBUILD_INDEX", "1") != "0") {
      try graft.operators.CorpusIndex.artifacts(
        graft.core.Engine.table(spark, sfDir, "documents"), sfDir, "doc_id", "text").count()
      catch { case _: Throwable => () }
      Thread.sleep(300) // listener delivery is async — drain before clearing
      jobs.clear()
    }
    // JOBTRACE_WARM=n runs the query n untraced times first, so the
    // per-job wall times reflect steady state (JIT + cache warm), not
    // first-run compilation
    val warmRuns = sys.env.getOrElse("JOBTRACE_WARM", "0").toInt
    def buildDf(): org.apache.spark.sql.DataFrame =
      if (name == "dedup_corpus_raw") {
        val docs = graft.core.Engine.table(spark, sfDir, "documents")
        graft.operators.Dedup.dedupCorpus(docs, "doc_id", "text", minJaccard = 0.3)
      } else graft.SparkEntry.queries(name)(spark, sfDir)
    (1 to warmRuns).foreach { _ =>
      try { buildDf().count(); () }
      catch { case _: Throwable => () }
    }
    Thread.sleep(300)
    jobs.clear()
    // Janino compiles = misses of Spark's JVM-global generated-code
    // cache (one histogram sample each); compileTime is in nanos
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (c0, ct0) = (compiles(), CodeGenerator.compileTime)
    val t0 = System.nanoTime()
    // "dedup_corpus_raw" = the un-memoized tail of q53: dedupCorpus
    // before dedupClasses' localCheckpoint truncates the plan — for
    // auditing the final join/agg shape (buildDf handles both names)
    val df = buildDf()
    val n = df.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val (c1, ct1) = (compiles(), CodeGenerator.compileTime)
    if (sys.env.contains("JOBTRACE_EXPLAIN")) df.explain("formatted")
    Thread.sleep(500) // let listener drain
    // start lines only — END lines also begin with "job" and would
    // double-count every job in the summary
    val jobCount = jobs.stream
      .filter(s => s.startsWith("job") && !s.contains(" END ")).count()
    jobs.forEach(s => println(s"[trace] $s"))
    println(f"[trace] $name: $jobCount jobs, $sec%.1f s, rows=$n")
    // a second call should hit the codegen cache for every class; a
    // non-zero warm count means the query bakes a per-call value into
    // generated code and pays Janino + JIT on every call
    buildDf().count()
    println(f"[trace] $name codegen: ${c1 - c0} classes compiled in " +
      f"${(ct1 - ct0) / 1e9}%.2f s; second call compiled ${compiles() - c1}")
    spark.stop()
  }
}
