package graft.tools

/** Dev tool: single-JVM micro-benchmarks of the hot per-row kernels
  * (container walkers / PNG encode / dHash decode+hash / WAV encode /
  * audio hash), so a "the query is per-task-compute-bound" diagnosis
  * from [[ProfileQuery]] can be split into its kernel terms without
  * Spark scheduling noise. Usage: runMain graft.tools.KernelBench [n]
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000
    val M = graft.operators.Multimodal
    def g(v: Int): Int = (v << 16) | (v << 8) | v
    def mk(id: Long): Array[Byte] = {
      val cls = (id % 15).toInt
      val dark = 20 + (id % 23).toInt
      val light = 200 + (id % 37).toInt
      val lightCols = (0 until 4).filter(k => ((cls + 1) >> k & 1) != 0)
        .map(k => 1 + 2 * k).toSet
      M.renderPng(64, 64, (x, _) => {
        val gc = x * 9 / 64; if (lightCols(gc)) g(light) else g(dark)
      })
    }
    // container walkers over the synthetic fixtures: per-call cost of
    // the EBML / ISO-BMFF / TIFF-IFD header walks, min and median of
    // 5 rounds of 10n calls after 3 warm-up rounds (one round can end
    // before C2 has compiled the walk on a loaded box)
    val webm = M.syntheticWebm("video", width = 64, height = 48,
      durationMs = 5000L, cuePoints = 50, subtitleTracks = 1,
      subCues = (0 until 50).map(i => (i * 100L, i * 100L + 80L, s"cue $i")))
    val mp4 = M.syntheticMjpegMp4(Seq.fill(8)(M.syntheticJpeg(8, 8)),
      syncEvery = 2)
    val m4a = M.syntheticM4aTagged(2, 44100, 441000L, "Title", "Artist", "Album")
    val exif = M.jpegWithExifProvenance(M.syntheticJpeg(8, 8), "Make X",
      "Model Y", "2020:01:01 00:00:00")
    def perCall(label: String)(call: => Option[Any]): Unit = {
      val reps = 10 * n
      var hits = 0L
      val us = (0 until 8).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { if (call.isDefined) hits += 1; i += 1 }
        (System.nanoTime() - t0) / 1e3 / reps
      }.drop(3).sorted
      require(hits == 8L * reps, s"$label: fixture must parse")
      println(f"[kernel] $label: min ${us.head}%.3f / median ${us(2)}%.3f us per call")
    }
    perCall("webmInfo")(M.webmInfo(webm))
    perCall("webmTextTracks")(M.webmTextTracks(webm))
    perCall("mp4VideoTrack")(M.mp4VideoTrack(mp4))
    perCall("m4aTags")(M.m4aTags(m4a))
    perCall("imageProvenance")(M.imageProvenance(exif))

    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[kernel] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s / $n")
    }
    (0 until 300).foreach(i => mk(i)) // warm JIT
    var pngs: Array[Array[Byte]] = null
    time("png encode 64x64")({ pngs = Array.tabulate(n)(i => mk(i)) })
    var acc = 0L
    (0 until 300).foreach(i => acc ^= M.dhash64(pngs(i % n)))
    time("dhash (decode+hash)")((0 until n).foreach(i => acc ^= M.dhash64(pngs(i))))
    def mkw(len: Int): Array[Byte] = M.renderWav(8000, 1,
      Array.tabulate[Short](len)(i => (if (i % 2 == 0) 12000 else -12000).toShort))
    var wavs: Array[Array[Byte]] = null
    (0 until 100).foreach(_ => mkw(8192))
    time("wav encode")({ wavs = Array.tabulate(n)(i => mkw(4096 * (1 + i % 3))) })
    (0 until 100).foreach(i => { val h = M.audioHash64(wavs(i % n)); if (h != null) acc ^= h.longValue })
    time("audioHash64")((0 until n).foreach { i =>
      val h = M.audioHash64(wavs(i)); if (h != null) acc ^= h.longValue })
    Console.err.println(s"acc=$acc") // keep results live

    // thread-scaling probe: the Spark tasks run these kernels 32-wide,
    // so a kernel that serializes on a JVM-global lock shows as a
    // parallel time barely below the single-thread time
    val threads = 16
    def timePar(label: String)(body: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => body(t)); th.start(); th
      }
      ts.foreach(_.join())
      println(f"[kernel] $label x$threads threads: ${(System.nanoTime() - t0) / 1e9}%.3f s / ${n * threads} total")
    }
    timePar("png encode 64x64")(t => (0 until n).foreach(i => mk(i + t)))
    val accs = new java.util.concurrent.atomic.AtomicLong()
    timePar("dhash (decode+hash)")(t => (0 until n).foreach(i =>
      accs.addAndGet(M.dhash64(pngs(i)).longValue())))
    Console.err.println(s"accs=$accs")
  }
}
