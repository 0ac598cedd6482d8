package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

import graft.core.Engine
import graft.operators.{CorpusIndex, Multimodal}
import graft.sql.QueryGate

/** JVM side of the benchmark. `run.py` writes a plan (ops, per-pass op
  * order, ingest batches); this program sets the engine up, runs the
  * plan as a closed loop with one client thread for the plan's time
  * window, and writes one JSON record per line. All judging (result
  * check, percentiles, self times) happens in Python afterwards, so the
  * measured loop does nothing but call the engine.
  *
  *   Harness meta <out.json>
  *   Harness setup <plan.json> <out.jsonl> <i>   one set-up, then exit
  *   Harness run <plan.json> <out.jsonl> <i>     one set-up, then the ops
  */
object Harness {

  final case class Op(id: String, kind: String, name: String, sql: String,
      reject: Boolean, cycle: Int)

  final case class Plan(workload: String, cores: Int,
      seconds: Double, trace: Boolean, dataDir: String, scratchDir: String,
      minPasses: Int, ops: IndexedSeq[Op], passes: IndexedSeq[IndexedSeq[Int]],
      traced: IndexedSeq[Boolean], batches: IndexedSeq[(Array[Long], Array[String])],
      kernelAssets: String)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("meta", out) => writeMeta(out)
    case Seq("setup", plan, out, i) => setupOnly(readPlan(plan), out, i.toInt)
    case Seq("run", plan, out, i) => run(readPlan(plan), out, i.toInt)
    case _ =>
      System.err.println("usage: Harness meta <out> | Harness (setup|run) <plan> <out> <i>")
      sys.exit(2)
  }

  // ------------------------------------------------------------ JSON

  // NaN and infinities stay bare tokens, which Python's json reads as floats
  private val mapper = JsonMapper.builder()
    .addModule(new org.json4s.jackson.Json4sScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  private def tagged(tag: String, v: String): JValue = JObject(tag -> JString(v))

  /** One Spark result cell, type-tagged where JSON has no native form so
    * the Python side can rebuild what pandas reads from parquet.
    */
  private[perfbench] def cell(v: Any, t: DataType): JValue = (v, t) match {
    case (null, _) => JNull
    case (d: java.math.BigDecimal, _) => tagged("$d", d.toPlainString)
    case (d: scala.math.BigDecimal, _) => tagged("$d", d.bigDecimal.toPlainString)
    case (ts: java.sql.Timestamp, _) => tagged("$t", ts.toLocalDateTime.toString)
    case (ts: java.time.Instant, _) =>
      tagged("$t", java.time.LocalDateTime.ofInstant(ts, java.time.ZoneOffset.UTC).toString)
    case (ts: java.time.LocalDateTime, _) => tagged("$t", ts.toString)
    case (d: java.sql.Date, _) => tagged("$date", d.toLocalDate.toString)
    case (d: java.time.LocalDate, _) => tagged("$date", d.toString)
    case (b: Array[Byte], _) => tagged("$b", java.util.Base64.getEncoder.encodeToString(b))
    case (r: Row, st: StructType) =>
      JObject("$s" -> JArray(st.fields.zipWithIndex.map { case (f, i) =>
        JArray(List(JString(f.name), cell(r.get(i), f.dataType)))
      }.toList))
    case (m: collection.Map[_, _], mt: MapType) =>
      JObject("$m" -> JArray(m.map { case (k, x) =>
        JArray(List(cell(k, mt.keyType), cell(x, mt.valueType)))
      }.toList))
    case (s: collection.Seq[_], at: ArrayType) => JArray(s.map(cell(_, at.elementType)).toList)
    case (s: String, _) => JString(s)
    case (b: Boolean, _) => JBool(b)
    case (d: Double, _) => JDouble(d)
    case (f: Float, _) => JDouble(f.toDouble)
    case (i: Int, _) => JInt(i)
    case (l: Long, _) => JLong(l)
    case (i: Short, _) => JInt(i.toInt)
    case (i: Byte, _) => JInt(i.toInt)
    case (x, _) => JString(x.toString)
  }

  /** Order-insensitive digest of a collected result: every occurrence of
    * one op must return the same rows.
    */
  private[perfbench] def rowsDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  final class Out(path: String) {
    private val w = new PrintWriter(path, "UTF-8")
    def emit(record: JObject): Unit = w.println(mapper.writeValueAsString(record))
    def close(): Unit = w.close()
  }

  // ------------------------------------------------------------ plan

  private def readPlan(path: String): Plan = {
    implicit val fmt: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(new File(path))
    val ops = (j \ "ops").children.map { o =>
      Op((o \ "id").extract[String], (o \ "kind").extract[String],
        (o \ "name").extractOrElse[String](""), (o \ "sql").extractOrElse[String](""),
        (o \ "reject").extractOrElse[Boolean](false), (o \ "cycle").extractOrElse[Int](-1))
    }.toIndexedSeq
    val batchesFile = (j \ "batches").extractOrElse[String]("")
    val batches =
      if (batchesFile.isEmpty) IndexedSeq.empty
      else scala.io.Source.fromFile(batchesFile, "UTF-8").getLines().map { line =>
        val b = org.json4s.jackson.JsonMethods.parse(line)
        ((b \ "ids").extract[Seq[Long]].toArray, (b \ "texts").extract[Seq[String]].toArray)
      }.toIndexedSeq
    Plan((j \ "workload").extract[String], (j \ "cores").extract[Int], (j \ "seconds").extract[Double],
      (j \ "trace").extract[Boolean], (j \ "data_dir").extract[String],
      (j \ "scratch_dir").extract[String], (j \ "min_passes").extract[Int], ops,
      (j \ "passes").extract[Seq[Seq[Int]]].map(_.toIndexedSeq).toIndexedSeq,
      (j \ "traced").extract[Seq[Boolean]].toIndexedSeq,
      batches, (j \ "kernel_assets").extractOrElse[String]("corpus"))
  }

  private def writeMeta(out: String): Unit = {
    val w = new PrintWriter(out, "UTF-8")
    try w.print(mapper.writeValueAsString(
      ("queries" -> graft.SparkEntry.queries.keys.toSeq.sorted) ~
      ("oracle_sql" -> graft.SparkEntry.oracleSql)))
    finally w.close()
  }

  // ------------------------------------------------------------ tracing

  /** Spark execution totals per job group. The traced run names each
    * op phase's job group `<seq>|<phase>`; the listener folds every
    * job, stage and task into its group. Read after `spark.stop()`,
    * which drains the listener bus.
    */
  final class GroupListener extends SparkListener {
    val stageGroup = new ConcurrentHashMap[Int, String]
    val totals = new ConcurrentHashMap[String, Array[Double]]
    private def add(g: String, i: Int, v: Double): Unit = {
      val a = totals.computeIfAbsent(g, _ => new Array[Double](GroupListener.Fields.length))
      a.synchronized { a(i) += v }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        e.stageIds.foreach(stageGroup.put(_, g))
        add(g, 0, 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val g = stageGroup.get(e.stageInfo.stageId)
      if (g != null) add(g, 1, 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      if (g == null) return
      add(g, 2, 1)
      if (e.reason != org.apache.spark.Success) add(g, 3, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(g, 4, m.executorRunTime / 1e3)
        add(g, 5, m.executorCpuTime / 1e9)
        add(g, 6, m.jvmGCTime / 1e3)
        add(g, 7, m.shuffleReadMetrics.totalBytesRead / 1e6)
        add(g, 8, m.shuffleWriteMetrics.bytesWritten / 1e6)
        add(g, 9, (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      }
    }
  }
  object GroupListener {
    val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "failed_tasks",
      "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
  }

  // ------------------------------------------------------------ run

  private def now(): Long = System.nanoTime()
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = cpuBean.getProcessCpuTime / 1e9

  private def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def dirStats(dir: File): (Int, Long) = {
    val files = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.length, files.map(_.length).sum)
  }

  private def indexDir(plan: Plan, i: Int): String = s"${plan.scratchDir}/index-$i"

  /** Set-up number i on a fresh JVM: session creation, `Engine.open` and a
    * warm scan of every table, then for corpus-batch the registry's
    * in-session corpus index and the durable index the ingest cycles grow
    * (keyed by its own path, so appends never invalidate the registry's
    * artifacts). setup_s runs from JVM start until the first op is ready.
    */
  private def setUp(plan: Plan, out: Out, i: Int): SparkSession = {
    val t0 = now()
    val spark = Engine.session("perfbench", plan.cores)
    val t1 = now()
    Engine.open(spark, plan.dataDir)
    Engine.TableNames.foreach { t =>
      if (new File(s"${plan.dataDir}/$t.parquet").exists())
        Engine.table(spark, plan.dataDir, t).count()
    }
    val t2 = now()
    if (plan.workload == "corpus-batch") {
      val docs = Engine.table(spark, plan.dataDir, "documents")
      CorpusIndex.artifacts(docs, plan.dataDir, "doc_id", "text").count()
      CorpusIndex.persist(docs, indexDir(plan, i), indexDir(plan, i), "doc_id", "text")
    }
    val t3 = now()
    val fromStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    out.emit(("type" -> "setup") ~ ("i" -> i) ~ ("setup_s" -> fromStart) ~
      ("session_s" -> secs(t0, t1)) ~ ("open_s" -> secs(t1, t2)) ~ ("index_s" -> secs(t2, t3)))
    spark
  }

  def setupOnly(plan: Plan, outPath: String, i: Int): Unit = {
    val out = new Out(outPath)
    setUp(plan, out, i).stop()
    out.close()
    deleteTree(new File(indexDir(plan, i)))
  }

  def run(plan: Plan, outPath: String, setupIndex: Int): Unit = {
    val out = new Out(outPath)
    val spark = setUp(plan, out, setupIndex)
    val sc = spark.sparkContext
    val listener = if (plan.trace) Some(new GroupListener) else None
    listener.foreach(sc.addSparkListener)
    val idxPath = indexDir(plan, setupIndex)

    val spinStart = graft.Bench.spinProbe()
    val seenResult = mutable.Set.empty[String]
    val t0Ns = now()
    val epochOffsetMs = System.currentTimeMillis() - t0Ns / 1e6
    def rel(ns: Long): Double = (ns - t0Ns) / 1e9
    def relMs(ms: Long): Double = (ms - epochOffsetMs) / 1e3 - t0Ns / 1e9
    val deadline = t0Ns + (plan.seconds * 1e9).toLong
    var seq = 0
    var completed = 0
    var pass = 0

    def span(s: Int, name: String, a: Long, b: Long): Unit =
      out.emit(("type" -> "span") ~ ("seq" -> s) ~ ("name" -> name) ~ ("start" -> rel(a)) ~ ("end" -> rel(b)))

    def phase(traced: Boolean, s: Int, name: String): Unit =
      if (traced) sc.setJobGroup(s"$s|$name", name, interruptOnCancel = false)

    def catalystSpans(s: Int, df: DataFrame): Unit =
      df.queryExecution.tracker.phases.foreach { case (name, p) =>
        out.emit(("type" -> "span") ~ ("seq" -> s) ~ ("name" -> s"catalyst.$name") ~
          ("start" -> relMs(p.startTimeMs)) ~ ("end" -> relMs(p.endTimeMs)))
      }

    def runOp(op: Op, traced: Boolean): Unit = {
      val s = seq
      seq += 1
      var extra = JObject()
      var result: Option[(StructType, Array[Row])] = None
      val tStart = now()
      val err: String = try {
        op.kind match {
          case "registry" =>
            phase(traced, s, "build")
            val df = graft.SparkEntry.queries(op.name)(spark, plan.dataDir)
            val t1 = now()
            phase(traced, s, "exec")
            val rows = df.collect()
            val t2 = now()
            if (traced) { span(s, "build", tStart, t1); span(s, "exec", t1, t2); catalystSpans(s, df) }
            result = Some((df.schema, rows))
            null
          case "gate" =>
            phase(traced, s, "sql.gate")
            val df =
              try QueryGate.sql(spark, op.sql)
              catch { case _: QueryGate.RejectedQuery if op.reject => null }
            val t1 = now()
            if (df == null) {
              if (traced) span(s, "sql.gate", tStart, t1)
              extra = JObject("rejected" -> JBool(true))
              null
            } else if (op.reject) {
              "non-SELECT statement was not rejected"
            } else {
              phase(traced, s, "exec")
              val rows = df.collect()
              val t2 = now()
              if (traced) { span(s, "sql.gate", tStart, t1); span(s, "exec", t1, t2); catalystSpans(s, df) }
              result = Some((df.schema, rows))
              null
            }
          case "ingest" =>
            val (ids, texts) = plan.batches(op.cycle)
            phase(traced, s, "index.append")
            val batch = spark.createDataFrame(
              ids.indices.map(i => Row(ids(i), texts(i))).asJava,
              StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
            val art = CorpusIndex.append(batch, idxPath, "text")
            val t1 = now()
            phase(traced, s, "index.incr_dedup")
            val pairs = CorpusIndex.incrementalNearDuplicates(spark, idxPath, art).collect()
            val t2 = now()
            phase(traced, s, "index.read")
            val hits = CorpusIndex.load(spark, idxPath)
              .join(art.select(col("fingerprint")).distinct(), Seq("fingerprint"))
              .select(col("doc_id")).collect()
            val t3 = now()
            if (traced) {
              span(s, "index.append", tStart, t1); span(s, "index.incr_dedup", t1, t2)
              span(s, "index.read", t2, t3)
            }
            val (nFiles, bytes) = dirStats(new File(s"$idxPath/artifacts"))
            extra = ("pairs" -> pairs.toList.map(r => JArray(List(JLong(r.getLong(0)), JLong(r.getLong(1)),
                JDouble(r.getDouble(2)))))) ~
              ("lookup" -> hits.toList.map(_.getLong(0))) ~
              ("index_files" -> nFiles) ~ ("index_mb" -> bytes / 1e6) ~
              ("input_mb" -> texts.map(_.getBytes("UTF-8").length.toLong).sum / 1e6)
            null
        }
      } catch {
        case NonFatal(e) => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val tEnd = now()
      if (traced) {
        sc.clearJobGroup()
        span(s, "op", tStart, tEnd)
        extra = extra ~ ("rdds_held" -> sc.getRDDStorageInfo.length)
      }
      val digest = result.fold(JObject()) { case (_, rows) =>
        ("rows" -> rows.length) ~ ("digest" -> rowsDigest(rows))
      }
      out.emit(("type" -> "op") ~ ("seq" -> s) ~ ("op" -> op.id) ~ ("pass" -> pass) ~
        ("traced" -> traced) ~ ("lat_s" -> secs(tStart, tEnd)) ~
        ("error" -> (if (err == null) JNull else JString(err))) ~ digest ~ extra)
      result.foreach { case (schema, rows) =>
        if (seenResult.add(op.id))
          out.emit(("type" -> "result") ~ ("op" -> op.id) ~ ("columns" -> schema.fieldNames.toList) ~
            ("rows" -> JArray(rows.toList.map(r =>
              JArray(schema.fields.indices.map(i => cell(r.get(i), schema.fields(i).dataType)).toList)))))
      }
    }

    def windowOpen: Boolean = now() < deadline || completed < plan.minPasses
    while (pass < plan.passes.size && windowOpen) {
      val traced = plan.traced(pass)
      val w0 = now()
      val c0 = cpuSeconds()
      val order = plan.passes(pass)
      var i = 0
      while (i < order.size && windowOpen) {
        runOp(plan.ops(order(i)), traced)
        i += 1
      }
      if (i == order.size) {
        completed += 1
        out.emit(("type" -> "pass") ~ ("pass" -> pass) ~ ("traced" -> traced) ~
          ("wall_s" -> secs(w0, now())) ~ ("cpu_s" -> (cpuSeconds() - c0)) ~
          ("cache_mb" -> cacheMb(spark)))
      }
      pass += 1
    }
    val measuredS = secs(t0Ns, now())
    val spinEnd = graft.Bench.spinProbe()
    if (plan.trace) Kernels.sample(plan.kernelAssets).foreach { case (k, v) =>
      out.emit(("type" -> "kernel") ~ ("name" -> k) ~ ("us" -> v))
    }
    spark.stop()
    listener.foreach { l =>
      l.totals.forEach { (g, a) =>
        out.emit(JObject(("type" -> JString("group")) :: ("group" -> JString(g)) ::
          GroupListener.Fields.zip(a.map(JDouble(_))).toList))
      }
    }
    out.emit(("type" -> "env") ~ ("spin_start" -> spinStart) ~ ("spin_end" -> spinEnd) ~
      ("nproc" -> Runtime.getRuntime.availableProcessors) ~ ("k" -> plan.cores) ~
      ("measured_s" -> measuredS) ~ ("passes_completed" -> completed))
    out.close()
    deleteTree(new File(idxPath))
  }
}

/** Per-call kernel timings over a sample of the workload's own asset
  * shapes, through the public `Multimodal` entry points only.
  */
object Kernels {

  private def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def wav(rate: Int, samples: Array[Short]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1.toShort).putShort(1.toShort).putInt(rate)
      .putInt(rate * 2).putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
    samples.foreach(bb.putShort)
    bb.array()
  }

  private def gray(v: Int): Int = (v << 16) | (v << 8) | v

  /** Corpus shapes: 64x64 stripe-class PNGs and 8 kHz envelope-ladder
    * WAVs (the per-document recipes of the corpus media-dedup queries);
    * fixture shapes: the small gradients and short tones the extraction
    * queries decode.
    */
  private def assets(kind: String): (Seq[Array[Byte]], Seq[Array[Byte]]) = {
    val ids = 0L until 32L
    if (kind == "fixture") {
      val imgs = ids.map(id => png(18 + (id % 3).toInt * 9, 16, (x, _) => gray((x * (5 + id.toInt)) % 256)))
      val auds = ids.map { id =>
        wav(8000, Array.tabulate(2048)(i => ((i % (20 + id.toInt)) * 300 - 3000).toShort))
      }
      (imgs, auds)
    } else {
      val imgs = ids.map { id =>
        val cls = (id % 15).toInt
        val light = (0 until 4).filter(k => ((cls + 1) >> k & 1) != 0).map(k => 1 + 2 * k).toSet
        png(64, 64, (x, _) => if (light(x * 9 / 64)) gray(200 + (id % 37).toInt) else gray(20 + (id % 23).toInt))
      }
      val auds = ids.map { id =>
        val gain = 1 + (id % 16).toInt
        wav(8000, Array.tabulate(4096 * (1 + (id % 3).toInt)) { i =>
          val w = i / (1 + (id % 3).toInt) * 9 / 4096
          ((1000 + 100 * w) * gain * (if (i % 2 == 0) 1 else -1)).toShort
        })
      }
      (imgs, auds)
    }
  }

  /** Median per-call microseconds over 5 timed rounds (2 warm-up). */
  def sample(kind: String): Seq[(String, Double)] = {
    val (imgs, auds) = assets(kind)
    def perCall(xs: Seq[Array[Byte]])(f: Array[Byte] => Any): Double = {
      val rounds = (0 until 7).map { _ =>
        val t0 = System.nanoTime()
        var sink = 0
        xs.foreach(x => sink += String.valueOf(f(x)).length)
        if (sink < 0) println(sink)
        (System.nanoTime() - t0) / 1e3 / xs.size
      }.drop(2).sorted
      rounds(rounds.size / 2)
    }
    Seq(
      "kernel.dhash64_us" -> perCall(imgs)(Multimodal.dhash64),
      "kernel.audiohash64_us" -> perCall(auds)(Multimodal.audioHash64),
      "kernel.decode_us" -> perCall(imgs)(Multimodal.textiness))
  }
}
