package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.SemanticOps
import graft.operators.{Guards, Multimodal}

class SemanticSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- llm

  test("semanticMap renders prompts per row and batches calls") {
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("name", "x")
    val out = SemanticOps.semanticMap(df, "hello {name}", Seq("name"), "resp",
      () => SemanticOps.DeterministicStub(p => s"echo[$p]"), batchSize = 2)
    val got = out.collect().map(r => r.getAs[String]("name") -> r.getAs[String]("resp")).toMap
    assert(got("a") == "echo[hello a]")
    assert(got("c") == "echo[hello c]")
  }

  test("llmJudge parses PASS/FAIL with fail-closed fallback") {
    val df = Seq("good text", "bad text").toDF("t")
    val client = () => SemanticOps.DeterministicStub(p =>
      if (p.contains("good text")) "PASS: looks fine" else "FAIL: nope"): SemanticOps.ModelClient
    val judged = SemanticOps.llmJudge(df, "is it good?", "t", client)
    val by = judged.collect().map(r => r.getAs[String]("t") ->
      (r.getAs[Boolean]("verdict"), r.getAs[String]("reason"))).toMap
    assert(by("good text") == (true, "looks fine"))
    assert(by("bad text") == (false, "nope"))
    val kept = SemanticOps.semanticFilter(df, "is it good?", "t", client)
    assert(kept.collect().map(_.getString(0)).toSeq == Seq("good text"))
  }

  test("retrying client: transient failures retried, permanent surfaced") {
    val flaky = new SemanticOps.FlakyClient(SemanticOps.DeterministicStub(identity), 2)
    val retrying = SemanticOps.RetryingClient(flaky, maxRetries = 3, backoffBaseMs = 1)
    assert(retrying.complete(Seq("x")) == Seq("x"))
    val dead = new SemanticOps.FlakyClient(SemanticOps.DeterministicStub(identity), 99)
    val r2 = SemanticOps.RetryingClient(dead, maxRetries = 2, backoffBaseMs = 1)
    intercept[RuntimeException] { r2.complete(Seq("x")) }
  }

  test("HttpModelClient: OpenAI-shaped transport, retry classification, usage accounting") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.llm.{HttpModelClient, PermanentModelError, RetryableModelError}
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var failuresBeforeOk = 0
    @volatile var failStatus = 429
    @volatile var lastAuth: String = null
    @volatile var lastBody: String = null
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      try {
        lastAuth = ex.getRequestHeaders.getFirst("Authorization")
        lastBody = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val n = hits.incrementAndGet()
        val (code, body) =
          if (n <= failuresBeforeOk) (failStatus, """{"error":"nope"}""")
          else (200,
            """{"choices":[{"message":{"role":"assistant","content":"hi there"},
              |"finish_reason":"stop"}],
              |"usage":{"prompt_tokens":7,"completion_tokens":3}}""".stripMargin)
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
    try {
      // happy path: content extracted, auth header sent, usage counted
      val client = new HttpModelClient(url, "test-model", apiKey = Some("sk-test"))
      assert(client.complete(Seq("hello", "again")) == Seq("hi there", "hi there"))
      assert(lastAuth == "Bearer sk-test")
      assert(lastBody.contains("\"model\":\"test-model\"") && lastBody.contains("again"))
      assert(client.usage == (14L, 6L))
      // 429s are retryable: RetryingClient recovers after two failures
      failuresBeforeOk = hits.get() + 2
      val retrying = SemanticOps.RetryingClient(
        new HttpModelClient(url, "m"), maxRetries = 3, backoffBaseMs = 1)
      assert(retrying.complete(Seq("x")) == Seq("hi there"))
      // a 400 is permanent: surfaced immediately, NOT retried away
      failuresBeforeOk = Int.MaxValue
      failStatus = 400
      val before = hits.get()
      intercept[PermanentModelError] { retrying.complete(Seq("x")) }
      assert(hits.get() == before + 1, "permanent errors must not be retried")
      // 500 classifies retryable
      failStatus = 503
      intercept[RetryableModelError] { new HttpModelClient(url, "m").complete(Seq("x")) }
      // connection refused (dead port) classifies retryable
      intercept[RetryableModelError] {
        new HttpModelClient(s"http://127.0.0.1:1/v1", "m").complete(Seq("x"))
      }
      // end-to-end through the mapPartitions operator
      failuresBeforeOk = 0
      failStatus = 429
      val df = Seq("a", "b", "c").toDF("t")
      val out = SemanticOps.semanticMap(df, "say {t}", Seq("t"), "resp",
        () => new HttpModelClient(url, "test-model"))
      assert(out.collect().map(_.getAs[String]("resp")).toSeq == Seq("hi there", "hi there", "hi there"))
      // json mode injects the cross-provider system instruction
      new HttpModelClient(url, "m", jsonMode = true).complete(Seq("q"))
      assert(lastBody.contains("valid JSON object") && lastBody.contains("\"system\""))
    } finally server.stop(0)
  }

  test("HttpModelClient /embeddings: batch split, index-ordered vectors, retries, usage") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.llm.{HttpModelClient, PermanentModelError, RetryableModelError}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val requestSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    @volatile var failuresBeforeOk = 0
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    // deterministic 3-dim embedding of a text; data[] is served in
    // REVERSED index order to prove the client reorders by index
    def vecOf(t: String): Seq[Float] =
      Seq(t.length.toFloat, t.hashCode.toFloat, if (t.isEmpty) 0f else t.head.toFloat)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/embeddings", (ex: HttpExchange) => {
      try {
        val req = mapper.readTree(ex.getRequestBody.readAllBytes())
        val inputs = (0 until req.path("input").size())
          .map(i => req.path("input").get(i).asText())
        requestSizes.add(inputs.size)
        val (code, body) =
          if (hits.incrementAndGet() <= failuresBeforeOk) (429, """{"error":"slow down"}""")
          else {
            val root = mapper.createObjectNode()
            val data = root.putArray("data")
            inputs.zipWithIndex.reverse.foreach { case (t, i) =>
              val e = data.addObject()
              e.put("index", i)
              val arr = e.putArray("embedding")
              vecOf(t).foreach(arr.add)
            }
            root.putObject("usage").put("prompt_tokens", inputs.size * 2)
            (200, mapper.writeValueAsString(root))
          }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
    try {
      // batch split: 5 texts at embedBatchSize=2 -> 3 requests (2,2,1),
      // vectors back in input order despite the reversed server payload
      val client = new HttpModelClient(url, "emb-model", embedBatchSize = 2)
      val texts = Seq("alpha", "bb", "c", "dddd", "ee")
      val vecs = client.embed(texts)
      assert(vecs.map(_.toSeq) == texts.map(vecOf))
      assert(requestSizes.toArray.toSeq == Seq(2, 2, 1))
      assert(client.usage == (10L, 0L), "2 prompt tokens per input, no completions")
      // 429 classifies retryable; the retrying wrapper recovers
      failuresBeforeOk = hits.get() + 2
      val retrying = SemanticOps.RetryingEmbeddingClient(
        new HttpModelClient(url, "emb-model"), maxRetries = 3, backoffBaseMs = 1)
      assert(retrying.embed(Seq("x")).head.toSeq == vecOf("x"))
      // a 404 (wrong path) is permanent — never retried away
      intercept[PermanentModelError] {
        new HttpModelClient(s"http://127.0.0.1:${server.getAddress.getPort}/nope", "m")
          .embed(Seq("x"))
      }
      // connection refused classifies retryable
      intercept[RetryableModelError] {
        new HttpModelClient("http://127.0.0.1:1/v1", "m").embed(Seq("x"))
      }
      // end-to-end: embedColumn attaches array<float> through mapPartitions
      val df = Seq("doc one", "doc two", "doc three").toDF("text")
      val out = SemanticOps.embedColumn(df, "text", "embedding",
        () => new HttpModelClient(url, "emb-model", embedBatchSize = 2), batchSize = 2)
      assert(out.schema("embedding").dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false))
      val got = out.collect().map(r =>
        r.getAs[String]("text") -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
      assert(got == Map("doc one" -> vecOf("doc one"),
        "doc two" -> vecOf("doc two"), "doc three" -> vecOf("doc three")))
    } finally server.stop(0)
  }

  test("HttpModelClient /rerank: index-ordered scores, retries, usage, rerankColumn") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.llm.{HttpModelClient, PermanentModelError, RetryableModelError}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    @volatile var failuresBeforeOk = 0
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val callDocCounts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // deterministic cross-encoder: overlap count between query and doc
    // tokens — results served SORTED BY SCORE DESC (the Cohere shape)
    // to prove the client restores input order via results[].index
    def scoreOf(q: String, d: String): Double = {
      val qs = q.split(" ").toSet
      d.split(" ").count(qs.contains).toDouble
    }
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/rerank", (ex: HttpExchange) => {
      try {
        val req = mapper.readTree(ex.getRequestBody.readAllBytes())
        val q = req.path("query").asText()
        val docs = (0 until req.path("documents").size())
          .map(i => req.path("documents").get(i).asText())
        callDocCounts.add(docs.size)
        val (code, body) =
          if (hits.incrementAndGet() <= failuresBeforeOk) (503, """{"error":"busy"}""")
          else {
            val root = mapper.createObjectNode()
            val results = root.putArray("results")
            docs.zipWithIndex.map { case (d, i) => (i, scoreOf(q, d)) }
              .sortBy(-_._2)
              .foreach { case (i, s) =>
                val e = results.addObject()
                e.put("index", i)
                e.put("relevance_score", s)
              }
            root.putObject("meta").putObject("billed_units")
              .put("input_tokens", docs.size * 3)
            (200, mapper.writeValueAsString(root))
          }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
    try {
      val client = new HttpModelClient(url, "rr-model")
      val docs = Seq("spark joins fast", "cats and dogs", "spark shuffle spark")
      // input-ordered scores despite score-sorted server payload
      assert(client.rerank("spark shuffle", docs) ==
        docs.map(scoreOf("spark shuffle", _)))
      assert(client.rerank("q", Nil).isEmpty)
      assert(client.usage._1 == 9L, "billed_units.input_tokens accounted")
      // 503 classifies retryable; the retrying wrapper recovers
      failuresBeforeOk = hits.get() + 2
      val retrying = SemanticOps.RetryingRerankClient(
        new HttpModelClient(url, "rr-model"), maxRetries = 3, backoffBaseMs = 1)
      assert(retrying.rerank("spark", Seq("spark x")) == Seq(1.0))
      // wrong path is permanent; connection refused is retryable
      intercept[PermanentModelError] {
        new HttpModelClient(s"http://127.0.0.1:${server.getAddress.getPort}/nope", "m")
          .rerank("q", Seq("d"))
      }
      intercept[RetryableModelError] {
        new HttpModelClient("http://127.0.0.1:1/v1", "m").rerank("q", Seq("d"))
      }
      // end-to-end: rerankColumn scores per-query candidate lists,
      // chunked at maxDocsPerCall
      callDocCounts.clear()
      val cands = Seq(
        ("spark shuffle", "d1", "spark joins fast"),
        ("spark shuffle", "d2", "cats and dogs"),
        ("spark shuffle", "d3", "spark shuffle spark"),
        ("cats", "d4", "cats and dogs"),
        ("cats", "d5", "spark joins fast"))
        .toDF("query", "doc_id", "text")
      val out = SemanticOps.rerankColumn(cands, "query", "text", "ce_score",
        () => new HttpModelClient(url, "rr-model"), maxDocsPerCall = 2)
      val got = out.collect()
        .map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("ce_score")).toMap
      assert(got == Map("d1" -> 1.0, "d2" -> 0.0, "d3" -> 3.0,
        "d4" -> 1.0, "d5" -> 0.0))
      // the 3-candidate list split 2+1 under maxDocsPerCall=2; the
      // 2-candidate list is one call
      assert(callDocCounts.toArray.toSeq.map(_.asInstanceOf[Int]).sorted ==
        Seq(1, 2, 2))
    } finally server.stop(0)
  }

  test("HttpModelClient vision: base64 image_url content parts, retries, usage, annotateImages") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.llm.{HttpModelClient, PermanentModelError, RetryableModelError}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    @volatile var failuresBeforeOk = 0
    @volatile var lastPromptPart: String = null
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    // the server decodes the data URL and labels the image by its
    // HEADER — proving the bytes round-trip intact through base64
    def labelOf(bytes: Array[Byte], mime: String): String =
      s"label:$mime:${bytes.length}:${bytes.take(2).map(b => b & 0xFF).mkString("-")}"
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      try {
        val req = mapper.readTree(ex.getRequestBody.readAllBytes())
        val parts = req.path("messages").path(0).path("content")
        val (code, body) =
          if (hits.incrementAndGet() <= failuresBeforeOk) (429, """{"error":"slow"}""")
          else if (!parts.isArray || parts.size() != 2) (400, """{"error":"want 2 parts"}""")
          else {
            lastPromptPart = parts.get(0).path("text").asText()
            val url = parts.get(1).path("image_url").path("url").asText()
            val prefix = url.substring(0, url.indexOf(";base64,"))
            val mime = prefix.stripPrefix("data:")
            val bytes = java.util.Base64.getDecoder
              .decode(url.substring(url.indexOf(";base64,") + 8))
            val root = mapper.createObjectNode()
            root.putArray("choices").addObject()
              .putObject("message").put("content", labelOf(bytes, mime))
            root.putObject("usage").put("prompt_tokens", 90).put("completion_tokens", 5)
            (200, mapper.writeValueAsString(root))
          }
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } finally ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
    try {
      import graft.operators.Multimodal
      val png = Multimodal.syntheticPng(32, 16)
      val jpg = Multimodal.syntheticJpeg(8, 8)
      // happy path: per-image answers in order; mime + bytes intact
      val client = new HttpModelClient(url, "vis-model")
      val out = client.analyzeImages("List the labels.",
        Seq((png, "image/png"), (jpg, "image/jpeg")))
      assert(out == Seq(labelOf(png, "image/png"), labelOf(jpg, "image/jpeg")))
      assert(lastPromptPart == "List the labels.")
      assert(client.usage == (180L, 10L), "usage accumulates per image request")
      // 429 retryable via the wrapper; permanent 4xx surfaces at once
      failuresBeforeOk = hits.get() + 2
      val retrying = SemanticOps.RetryingVisionClient(
        new HttpModelClient(url, "vis-model"), maxRetries = 3, backoffBaseMs = 1)
      assert(retrying.analyzeImages("p", Seq((png, "image/png"))).head
        == labelOf(png, "image/png"))
      intercept[PermanentModelError] {
        new HttpModelClient(s"http://127.0.0.1:${server.getAddress.getPort}/nope", "m")
          .analyzeImages("p", Seq((png, "image/png")))
      }
      intercept[RetryableModelError] {
        new HttpModelClient("http://127.0.0.1:1/v1", "m")
          .analyzeImages("p", Seq((png, "image/png")))
      }
      // end-to-end through the operator: mime sniffed from magic bytes
      val df = Seq((1L, png), (2L, jpg)).toDF("asset_id", "content")
      val annotated = graft.operators.Multimodal.annotateImages(df, "content",
          "List the labels.", () => new HttpModelClient(url, "vis-model"))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("annotation")).toMap
      assert(annotated == Map(1L -> labelOf(png, "image/png"),
        2L -> labelOf(jpg, "image/jpeg")))
    } finally server.stop(0)
  }

  test("HttpModelClient streaming: SSE deltas, mid-stream disconnect retried, stall fails fast") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    import graft.llm.{HttpModelClient, RetryableModelError}
    def chunk(text: String): String =
      s"""data: {"choices":[{"delta":{"content":"$text"}}]}\n\n"""
    val usageChunk =
      """data: {"choices":[{"delta":{}}],"usage":{"prompt_tokens":5,"completion_tokens":4}}""" + "\n\n"
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var disconnectsBeforeOk = 0
    @volatile var stallAfterFirstChunk = false
    @volatile var sawStreamTrue = false
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      sawStreamTrue = body.contains("\"stream\":true")
      val n = hits.incrementAndGet()
      ex.getResponseHeaders.add("Content-Type", "text/event-stream")
      ex.sendResponseHeaders(200, 0) // chunked
      val out = ex.getResponseBody
      out.write(chunk("Hello").getBytes("UTF-8")); out.flush()
      if (n <= disconnectsBeforeOk) () // hang up mid-generation
      else if (stallAfterFirstChunk) Thread.sleep(2000)
      else {
        out.write(chunk(", world").getBytes("UTF-8")); out.flush()
        out.write(usageChunk.getBytes("UTF-8"))
        out.write("data: [DONE]\n\n".getBytes("UTF-8"))
      }
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1"
    try {
      // happy path: deltas concatenated, stream flag sent, usage counted
      val client = new HttpModelClient(url, "m", stream = true)
      assert(client.complete(Seq("hi")) == Seq("Hello, world"))
      assert(sawStreamTrue, "request body must carry stream:true")
      assert(client.usage == (5L, 4L))
      // mid-stream disconnect: retryable, and the retry re-sends from
      // scratch — no splicing of the partial "Hello" from attempt 1
      disconnectsBeforeOk = hits.get() + 1
      intercept[RetryableModelError] {
        new HttpModelClient(url, "m", stream = true).complete(Seq("x"))
      }
      disconnectsBeforeOk = hits.get() + 1
      val retrying = SemanticOps.RetryingClient(
        new HttpModelClient(url, "m", stream = true), maxRetries = 3, backoffBaseMs = 1)
      assert(retrying.complete(Seq("x")) == Seq("Hello, world"))
      // a stalled stream trips the per-chunk deadline, not the 120s
      // request timeout
      stallAfterFirstChunk = true
      val t0 = System.nanoTime()
      val e = intercept[RetryableModelError] {
        new HttpModelClient(url, "m", stream = true,
          chunkTimeout = java.time.Duration.ofMillis(250)).complete(Seq("x"))
      }
      assert(e.getMessage.contains("stalled"))
      assert((System.nanoTime() - t0) / 1e9 < 5.0)
    } finally server.stop(0)
  }

  test("outputCleaner: valid passes, broken repaired, hopeless kept raw (`output_cleaner.py`)") {
    val target = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val df = Seq(
      """{"a": 1, "b": "ok"}""",
      """garbage before {"a": 2, "b": "fixed"} garbage after""",
      "utterly hopeless").toDF("payload")
    val out = SemanticOps.outputCleaner(df, "payload", target, "parsed",
      () => SemanticOps.JsonExtractStub)
    val rows = out.collect()
    assert(rows.count(_.getAs[String]("parsed_raw") == null) == 2)
    val hopeless = rows.find(_.getAs[String]("parsed_raw") != null).get
    assert(hopeless.getAs[String]("parsed_raw") == "utterly hopeless")
    val repaired = rows.find(r => r.getAs[org.apache.spark.sql.Row]("parsed") != null
      && r.getAs[String]("payload").contains("garbage")).get
    assert(repaired.getAs[org.apache.spark.sql.Row]("parsed").getLong(0) == 2L)
  }

  // ---------------------------------------------------------- guards

  test("permission view prunes columns; out-of-allowlist read fails (`node.py:434-447`)") {
    val df = Seq((1, "s", 3.0)).toDF("id", "secret", "score")
    val view = Guards.permissionView(df, Seq("id", "score"))
    assert(view.columns.toSeq == Seq("id", "score"))
    intercept[IllegalArgumentException] { Guards.permissionView(df, Seq("id", "missing")) }
  }

  test("write validation rejects long code-bearing strings (`node.py:295-325`)") {
    val longCode = ("x" * 6000) + "import os; eval(payload)"
    val longProse = "word " * 1500
    val shortCode = "import os"
    val df = Seq(longCode, longProse, shortCode).toDF("value")
    val flagged = Guards.validateWrites(df, "value")
      .collect().map(r => r.getAs[String]("value").take(8) -> r.getAs[Boolean]("write_ok")).toMap
    assert(!flagged(longCode.take(8))) // long + code => rejected
    assert(flagged("word wor")) // long prose fine
    assert(flagged("import o")) // short code fine (only >5000 scanned)
    // huge string: sampled scan still catches indicators past 10KB
    val huge = ("y" * 20000) + "__import__('os')" + ("y" * 200)
    val hugeFlag = Guards.validateWrites(Seq(huge).toDF("value"), "value")
      .head().getAs[Boolean]("write_ok")
    assert(!hugeFlag)
  }

  test("last-write-wins keyed merge + branch key disjointness (`executor.py:1908-1910`, `edge.py:671-691`)") {
    val writes = Seq(("k1", "old", 1L), ("k1", "new", 2L), ("k2", "only", 1L))
      .toDF("key", "value", "version")
    val merged = Guards.lastWriteWins(writes, Seq("key"), "version")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(merged == Map("k1" -> "new", "k2" -> "only"))
    val branches = Seq(("b1", "out_a"), ("b2", "out_a"), ("b2", "out_b")).toDF("branch", "key")
    val clash = Guards.overlappingKeys(branches, "branch", "key").collect()
    assert(clash.length == 1 && clash.head.getString(0) == "out_a")
  }

  // ------------------------------------------------------ multimodal

  test("multimodal decode: real header parses with per-row failure isolation") {
    val garbageJpeg = Array(0xFF.toByte, 0xD8.toByte) ++ "fakejpegdata".getBytes
    val df = Seq(
      (1L, Multimodal.syntheticJpeg(512, 384)),
      (2L, "plainbytes".getBytes),
      (3L, Array.empty[Byte]),
      (4L, Multimodal.syntheticPng(640, 480)),
      (5L, garbageJpeg),
      (6L, Multimodal.syntheticPng(32, 16, colorType = 6))
    ).toDF("id", "content")
    val out = Multimodal.decode(df).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("decoded")).toMap
    // real JPEG SOF walk: actual dimensions, not length-derived
    assert(out(1L).getAs[String]("format") == "jpeg" && out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("width") == 512 && out(1L).getAs[Int]("height") == 384)
    assert(out(1L).getAs[Int]("channels") == 3)
    assert(out(2L).getAs[String]("format") == "raw")
    assert(!out(3L).getAs[Boolean]("ok") && out(3L).getAs[String]("error") == "empty content")
    // real PNG IHDR parse
    assert(out(4L).getAs[String]("format") == "png" && out(4L).getAs[Boolean]("ok"))
    assert(out(4L).getAs[Int]("width") == 640 && out(4L).getAs[Int]("height") == 480)
    assert(out(4L).getAs[Int]("channels") == 3)
    // an FFD8 signature over garbage now fails honestly instead of fake dims
    assert(out(5L).getAs[String]("format") == "jpeg" && !out(5L).getAs[Boolean]("ok"))
    assert(out(5L).getAs[String]("error") != null)
    // RGBA color type -> 4 channels
    assert(out(6L).getAs[Int]("channels") == 4)
  }

  test("multimodal decode: WAV and MP4 header metadata") {
    val df = Seq(
      (1L, Multimodal.syntheticWav(44100, 2, millis = 2500)),
      (2L, Multimodal.syntheticWav(16000, 1, millis = 1000, bitsPerSample = 8)),
      (3L, Multimodal.syntheticMp4(1920, 1080, durationMs = 90000L)),
      // RIFF signature over garbage fails honestly
      (4L, "RIFFxxxxWAVEgarbage!".getBytes),
      // ftyp box but no moov
      (5L, Multimodal.syntheticMp4(0, 0, 0L).take(16))
    ).toDF("id", "content")
    val out = Multimodal.decode(df).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("decoded")).toMap
    assert(out(1L).getAs[String]("format") == "wav" && out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("sample_rate") == 44100 && out(1L).getAs[Int]("channels") == 2)
    assert(out(1L).getAs[Long]("duration_ms") == 2500L)
    assert(out(1L).getAs[Integer]("width") == null) // audio has no dims
    assert(out(2L).getAs[Int]("sample_rate") == 16000 && out(2L).getAs[Long]("duration_ms") == 1000L)
    assert(out(3L).getAs[String]("format") == "mp4" && out(3L).getAs[Boolean]("ok"))
    assert(out(3L).getAs[Int]("width") == 1920 && out(3L).getAs[Int]("height") == 1080)
    assert(out(3L).getAs[Long]("duration_ms") == 90000L)
    assert(!out(4L).getAs[Boolean]("ok") && out(4L).getAs[String]("format") == "wav")
    assert(!out(5L).getAs[Boolean]("ok") && out(5L).getAs[String]("format") == "mp4")
  }

  test("multimodal features are unit-norm and deterministic") {
    val df = Seq((1L, "some media bytes".getBytes), (2L, "some media bytes".getBytes))
      .toDF("id", "content")
    val feats = Multimodal.extractFeatures(df, dim = 8).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("features"))
    assert(feats(0) == feats(1)) // deterministic
    val norm = math.sqrt(feats(0).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("multimodal pipeline composes into ANN: decode -> features -> knn") {
    import graft.operators.Similarity
    // a media corpus with one planted byte-identical duplicate: its
    // extracted features are identical, so exact knn must rank the
    // twin first — the end-to-end media-dedup path over real Spark
    // plumbing (binary columns -> batched feature kernel -> top-k)
    val corpus = (1L to 40L).map(i => (i, s"media payload number $i with filler".getBytes)) :+
      (99L, "media payload number 7 with filler".getBytes) // twin of id 7
    val df = corpus.toDF("id", "content")
    val featured = Multimodal.extractFeatures(df, dim = 16)
      .select(col("id"), col("features"))
    val query = featured.filter(col("id") === 99L)
      .head().getSeq[Float](1).map(_.toDouble).toArray
    val top = Similarity.knnBrute(featured.filter(col("id") =!= 99L),
      "id", "features", query, k = 3).collect()
    assert(top.head.getLong(0) == 7L, s"twin must rank first, got ${top.toSeq}")
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-5) // cosine 1 with its twin
  }

  test("imageStats: real ImageIO pixel decode — exact means, lossy JPEG within tolerance") {
    val df = Seq(
      (1L, Multimodal.renderPng(16, 16, (_, _) => (200 << 16) | (50 << 8) | 25)),
      (2L, Multimodal.renderJpeg(32, 32, (_, _) => (200 << 16) | (50 << 8) | 25)),
      (3L, Multimodal.syntheticPng(640, 480)), // header-only: no raster
      (4L, "not an image".getBytes)
    ).toDF("id", "content")
    val out = Multimodal.imageStats(df).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("stats")).toMap
    // PNG is lossless: means are exactly component/255
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("width") == 16 && out(1L).getAs[Int]("height") == 16)
    assert(out(1L).getAs[Double]("avg_r") == 200.0 / 255.0)
    assert(out(1L).getAs[Double]("avg_g") == 50.0 / 255.0)
    assert(out(1L).getAs[Double]("avg_b") == 25.0 / 255.0)
    // JPEG is lossy: same solid color within codec tolerance
    assert(out(2L).getAs[Boolean]("ok"))
    assert(math.abs(out(2L).getAs[Double]("avg_r") - 200.0 / 255.0) < 0.02)
    assert(math.abs(out(2L).getAs[Double]("avg_b") - 25.0 / 255.0) < 0.02)
    // header-only synthetic and non-images degrade to error rows
    assert(!out(3L).getAs[Boolean]("ok") && !out(4L).getAs[Boolean]("ok"))
  }

  test("audioStats: PCM decode — 16/8-bit closed forms, truncated data degrades") {
    // 16-bit square at half-ish scale: rms == peak == 16384/32767
    val square = Array.tabulate[Short](800)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    // 8-bit PCM rides the unsigned-recentered path: full scale 127
    val wav8 = {
      val b = Multimodal.syntheticWav(8000, 1, millis = 100, bitsPerSample = 8)
      // payload alternates 255/1 → recentered ±127 → full-scale square
      var i = 44
      while (i < b.length) { b(i) = (if (i % 2 == 0) 255 else 1).toByte; i += 1 }
      b
    }
    val truncated = Multimodal.renderWav(8000, 1, square).take(500)
    val df = Seq(
      (1L, Multimodal.renderWav(8000, 1, square)),
      (2L, wav8),
      (3L, truncated),
      (4L, Multimodal.syntheticMp4(16, 16, 1000)) // wrong container
    ).toDF("id", "content")
    val out = Multimodal.audioStats(df).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("audio")).toMap
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Long]("n_samples") == 800L)
    val half = BigDecimal(16384.0 / 32767)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L).getAs[Double]("peak_norm") == half)
    assert(out(1L).getAs[Double]("rms_norm") == half)
    assert(out(1L).getAs[Double]("clip_ratio") == 0.0)
    assert(out(1L).getAs[Double]("silence_ratio") == 0.0)
    assert(out(2L).getAs[Boolean]("ok") && out(2L).getAs[Int]("bits") == 8)
    assert(out(2L).getAs[Double]("peak_norm") == 1.0)
    assert(out(2L).getAs[Double]("rms_norm") == 1.0)
    assert(out(2L).getAs[Double]("clip_ratio") == 1.0)
    // a data chunk pointing past the buffer must degrade, not throw
    assert(!out(3L).getAs[Boolean]("ok"))
    assert(!out(4L).getAs[Boolean]("ok"))
    // PCM rows also carry the header-fact tail fields
    assert(out(1L).getAs[String]("codec") == "pcm")
    assert(out(1L).getAs[Long]("duration_ms") == 100L) // 800 / 8000 Hz
    assert(!out(1L).getAs[Boolean]("vbr"))
  }

  test("mpegAudioInfo: python-built fixture cross-check — frames, VBR, gains, tags") {
    // the fixture is built by an INDEPENDENT implementation of the
    // frame format (scripts/make_mp3_fixture.py — the PDF-fixture
    // cross-validation precedent): ID3v2 head, 6 stereo MPEG1-L3
    // frames at 44100 Hz (one padded), VBR [128,128,160,128,192,128],
    // per-granule channel-max gains 60+10i+gr, ID3v1 trailer
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic.mp3").toURI))
    val m = Multimodal.mpegAudioInfo(bytes).get
    assert(m.version == "1" && m.layer == 3)
    assert(m.sampleRate == 44100 && m.channels == 2)
    assert(m.nFrames == 6, s"ID3v1 trailer must stop the walk: ${m.nFrames}")
    assert(m.totalSamples == 6L * 1152)
    assert(m.vbr && m.avgBitrateKbps == 144.0)
    assert(m.gains.toSeq == (0 until 6).flatMap(i =>
      Seq(60 + 10 * i, 61 + 10 * i)),
      s"granule gains must be channel-max in frame order: ${m.gains.toSeq}")
    // stats surface over the same bytes: real header facts, null PCM
    val out = Multimodal.audioStats(Seq((1L, bytes)).toDF("id", "content"))
      .select("audio.*").collect().head
    assert(out.getAs[Boolean]("ok") && out.getAs[String]("codec") == "mpeg1-l3")
    assert(out.getAs[Long]("duration_ms") == 6L * 1152 * 1000 / 44100)
    assert(out.getAs[Double]("bitrate_kbps") == 144.0 && out.getAs[Boolean]("vbr"))
    assert(out.isNullAt(out.fieldIndex("rms_norm")),
      "no PCM without a full decode — sample stats must stay null")
  }

  test("mpegAudioInfo: container magics rejected, free format rejected, LSF geometry") {
    val M = Multimodal
    // a JPEG/PNG/MP4 must never read as audio however its payload looks
    assert(M.mpegAudioInfo(M.renderJpeg(16, 16, (_, _) => 0xFF00FF)).isEmpty)
    assert(M.mpegAudioInfo(M.renderPng(8, 8, (_, _) => 0x123456)).isEmpty)
    assert(M.mpegAudioInfo(M.syntheticMp4(16, 16, 500)).isEmpty)
    // BM/TIFF joined the decodePixels allowlist — the rejection list
    // must track it, or an image double-counts as audio in mediaCard
    assert(M.mpegAudioInfo(M.renderImage("bmp", 8, 8, (_, _) => 0xABCDEF)).isEmpty)
    assert(M.mpegAudioInfo(Array[Byte]('I', 'I', 42, 0, 1, 2, 3, 4)).isEmpty)
    assert(M.mpegAudioInfo(Array[Byte]('M', 'M', 0, 42, 1, 2, 3, 4)).isEmpty)
    // free format: valid sync, bitrate index 0 — size underivable
    val free = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x08, 0x00, 0, 0, 0, 0)
    assert(M.mpegAudioInfo(free).isEmpty)
    // MPEG2 LSF mono: 1 granule, 63-bit blocks — gains land exactly
    val lsf = M.syntheticMp3(verId = 2, srIdx = 1, channels = 1,
      frames = Seq((3, Seq(77)), (3, Seq(200))))
    val m = M.mpegAudioInfo(lsf).get
    assert(m.version == "2" && m.sampleRate == 24000 && m.channels == 1)
    assert(m.totalSamples == 2L * 576 && !m.vbr)
    assert(m.gains.toSeq == Seq(77, 200))
  }

  test("textiness: real rendered text scores high, photo-like gradients score low") {
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    // an actual glyph raster via AWT (antialiasing off so the raster
    // is two-tone like a screenshot) — not a synthetic stripe pattern
    val textPng = {
      val img = new java.awt.image.BufferedImage(160, 80,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, 160, 80)
      g.setColor(java.awt.Color.BLACK)
      g.setFont(new java.awt.Font(java.awt.Font.MONOSPACED, java.awt.Font.PLAIN, 13))
      g.drawString("the quick brown fox", 4, 18)
      g.drawString("jumps over the lazy", 4, 38)
      g.drawString("dog 0123456789 :-)", 4, 58)
      g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val texty = Multimodal.textiness(textPng).doubleValue()
    assert(texty > 0.4, s"rendered text must score high: $texty")
    // smooth 2D gradient — the photo proxy
    val photo = Multimodal.renderPng(160, 80, (x, y) => gray((x + y) & 0xff))
    val photoScore = Multimodal.textiness(photo).doubleValue()
    assert(photoScore < 0.05, s"gradients must score low: $photoScore")
    assert(Multimodal.textiness("junk".getBytes("UTF-8")) == null)
    // the imageStats surface carries it per row
    val stats = Multimodal.imageStats(
      Seq((1L, textPng), (2L, photo)).toDF("id", "content"))
      .select("id", "stats.textiness").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stats(1L) == texty && stats(2L) == photoScore)
  }

  test("flacStreamInfo / opusInfo: python-built fixture cross-checks") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // FLAC: 22050 Hz mono 8-bit, 55125 samples, a VORBIS_COMMENT block
    // after STREAMINFO (walk must not require it to be the only block)
    assert(Multimodal.flacStreamInfo(fix("synthetic.flac"))
      .contains((1, 22050, 8, 55125L)))
    // Opus: 2ch, pre-skip 120, input 24000 Hz, EOS granule 48120
    assert(Multimodal.opusInfo(fix("synthetic.opus"))
      .contains((2, 120, 24000, 48120L)))
    // stats surface: exact 48 kHz-clock duration, header-fact codec
    val rows = Multimodal.audioStats(Seq(
        (1L, fix("synthetic.flac")), (2L, fix("synthetic.opus"))
      ).toDF("id", "content"))
      .select("id", "audio.codec", "audio.duration_ms", "audio.ok").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows(1L) == (("flac", 2500L, true)))
    assert(rows(2L) == (("opus", 48000L * 1000 / 48000, true))) // 1000 ms
    // magic-gated rejections both ways
    assert(Multimodal.flacStreamInfo("junk".getBytes).isEmpty)
    assert(Multimodal.opusInfo("junk".getBytes).isEmpty)
    assert(Multimodal.mpegAudioInfo(fix("synthetic.flac")).isEmpty,
      "the MPEG sync scan must never fire inside a FLAC stream")
    assert(Multimodal.mpegAudioInfo(fix("synthetic.opus")).isEmpty)
  }

  test("adtsAudioInfo / m4aAudioInfo: python-built fixture cross-checks") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // ADTS: ID3 skipped, 3 LC frames at 16 kHz mono (payloads
    // 20/30/25 -> lengths 27/37/32), trailing junk ends the walk
    val adts = fix("synthetic.adts")
    val a = Multimodal.adtsAudioInfo(adts).get
    assert(a.profile == 1 && a.sampleRate == 16000 && a.channels == 1)
    assert(a.nFrames == 3 && a.totalSamples == 3 * 1024L)
    assert(math.abs(a.avgBitrateKbps -
      (27 + 37 + 32) * 8.0 * 16000 / 3072 / 1000.0) < 1e-9)
    // M4A: mp4a entry facts, duration on the sample-rate clock
    val m4a = fix("synthetic.m4a")
    assert(Multimodal.m4aAudioInfo(m4a).contains((2, 44100, 88200L, "mp4a")))
    // stats surface: codec strings + the cross-codec duration invariant
    val rows = Multimodal.audioStats(Seq(
        (1L, adts), (2L, m4a)).toDF("id", "content"))
      .select("id", "audio.codec", "audio.sample_rate", "audio.n_samples",
        "audio.duration_ms", "audio.ok").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(rows(1L) == (("aac-lc", 16000, 3072L, 3072L * 1000 / 16000, true)))
    assert(rows(2L) == (("aac", 44100, 88200L, 2000L, true)))
    // sync disciplines are disjoint: an MP3 never parses as ADTS and
    // vice versa (ADTS layer bits 00 are the MPEG walk's reserved id)
    assert(Multimodal.adtsAudioInfo(fix("synthetic.mp3")).isEmpty)
    assert(Multimodal.mpegAudioInfo(adts).isEmpty)
    // an MP4 with a VIDEO track must never classify as audio — a
    // movie's soundtrack is not an audio asset
    val movie = Multimodal.syntheticMjpegMp4(
      Seq(Multimodal.renderJpeg(8, 8, (_, _) => 0x808080)))
    assert(Multimodal.m4aAudioInfo(movie).isEmpty)
    // scala-builder round trips
    val synth = Multimodal.syntheticAdts(1, 4, 2, Seq(100, 100), id3Bytes = 16)
    val sa = Multimodal.adtsAudioInfo(synth).get
    assert(sa.sampleRate == 44100 && sa.channels == 2 && sa.nFrames == 2)
    assert(Multimodal.m4aAudioInfo(
      Multimodal.syntheticM4a(1, 8000, 4000L)).contains((1, 8000, 4000L, "mp4a")))
  }

  test("webpInfo: python-built fixture cross-check — VP8X canvas + EXIF GPS, VP8L dims") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // VP8X: alpha flag, 640x360 canvas, EXIF chunk with the GPS pointer
    val x = fix("synthetic.webp")
    assert(Multimodal.webpInfo(x).contains((640, 360, 4, "vp8x")))
    assert(Multimodal.exifGpsPresent(x) == java.lang.Boolean.TRUE,
      "the RIFF EXIF chunk's tag 0x8825 must flag like a JPEG APP1's")
    // VP8L: 33x17 straddles the 14-bit fields' byte boundaries, no alpha
    val l = fix("synthetic_lossless.webp")
    assert(Multimodal.webpInfo(l).contains((33, 17, 3, "vp8l")))
    assert(Multimodal.exifGpsPresent(l) == java.lang.Boolean.FALSE,
      "a WebP without an EXIF chunk is location-free, not unknown")
    // scala-builder round trips through the same parser
    assert(Multimodal.webpInfo(Multimodal.syntheticWebp("vp8", 320, 240))
      .contains((320, 240, 3, "vp8")))
    assert(Multimodal.webpInfo(
        Multimodal.syntheticWebp("vp8l", 8191, 4097, alpha = true))
      .contains((8191, 4097, 4, "vp8l")))
    // decode kernel: format + dims; imageStats: classified as image
    // with real dims, pixel stats null (header facts, no VP8 decoder)
    val d = Multimodal.decode(Seq((1L, x)).toDF("id", "content"))
      .select("decoded.format", "decoded.width", "decoded.height",
        "decoded.channels", "decoded.ok").head()
    assert(d.getString(0) == "webp-vp8x" && d.getInt(1) == 640 &&
      d.getInt(2) == 360 && d.getInt(3) == 4 && d.getBoolean(4))
    val s = Multimodal.imageStats(Seq((1L, l)).toDF("id", "content"))
      .select("stats.ok", "stats.width", "stats.height", "stats.avg_r",
        "stats.exif_gps").head()
    assert(s.getBoolean(0) && s.getInt(1) == 33 && s.getInt(2) == 17 &&
      s.isNullAt(3) && !s.getBoolean(4))
    // magic discipline: WAV is not WebP; WebP never reads as audio
    assert(Multimodal.webpInfo(Multimodal.syntheticWav(8000, 1, 10)).isEmpty)
    assert(Multimodal.mpegAudioInfo(x).isEmpty)
    assert(Multimodal.sniffMime(x) == "image/webp")
  }

  test("TIFF: python-built fixture cross-check — header facts, ImageIO raster, GPS flag") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // little-endian 6x4 RGB, pixel (x,y) = (10x+y, 20x, 250-10y)
    val le = fix("synthetic.tiff")
    val d = Multimodal.decode(Seq((1L, le)).toDF("id", "content"))
      .select("decoded.format", "decoded.width", "decoded.height",
        "decoded.channels", "decoded.ok").head()
    assert(d.getString(0) == "tiff" && d.getInt(1) == 6 && d.getInt(2) == 4 &&
      d.getInt(3) == 3 && d.getBoolean(4))
    // full PIXEL path (the JDK TIFF plugin): exact means on the
    // foreign-written raster — sum r = 636, g = 1200, b = 5640 over 24
    val s = Multimodal.imageStats(Seq((1L, le)).toDF("id", "content"))
      .select("stats.ok", "stats.width", "stats.avg_r", "stats.avg_g",
        "stats.avg_b", "stats.exif_gps").head()
    assert(s.getBoolean(0) && s.getInt(1) == 6)
    assert(math.abs(s.getDouble(2) - 636.0 / 24 / 255) < 1e-12)
    assert(math.abs(s.getDouble(3) - 1200.0 / 24 / 255) < 1e-12)
    assert(math.abs(s.getDouble(4) - 5640.0 / 24 / 255) < 1e-12)
    assert(!s.getBoolean(5), "a TIFF without tag 0x8825 is location-free")
    // big-endian fixture with the GPS Info IFD pointer in IFD0
    val be = fix("synthetic_gps.tiff")
    assert(Multimodal.exifGpsPresent(be) == java.lang.Boolean.TRUE,
      "a TIFF file is its own TIFF block: IFD0's 0x8825 must flag")
    val sb = Multimodal.imageStats(Seq((1L, be)).toDF("id", "content"))
      .select("stats.ok", "stats.width", "stats.height", "stats.avg_r",
        "stats.exif_gps").head()
    assert(sb.getBoolean(0) && sb.getInt(1) == 3 && sb.getInt(2) == 2)
    assert(math.abs(sb.getDouble(3) - 40.0 / 255) < 1e-12)
    assert(sb.getBoolean(4))
    // the scala builder round-trips through the same readers
    val st = Multimodal.syntheticTiff(5, 3, (x, y) => (x << 16) | y, gps = true)
    assert(Multimodal.exifGpsPresent(st) == java.lang.Boolean.TRUE)
    assert(Multimodal.decodePixels(st).exists(i =>
      i.getWidth == 5 && i.getHeight == 3))
    // magic discipline: TIFF never reads as audio (pixel bytes can
    // chance-contain MPEG/ADTS syncs — the BMP lesson)
    assert(Multimodal.mpegAudioInfo(le).isEmpty)
    assert(Multimodal.adtsAudioInfo(le).isEmpty)
    assert(Multimodal.sniffMime(le) == "image/tiff")
  }

  test("audioTags: python-built fixtures — ID3v2.3/2.4 encodings, syncsafe sizes, M4A ilst") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // v2.3: UTF-16-BOM title, latin-1 artist, UTF-16BE album; a TXXX
    // frame and padding must be stepped over
    val t23 = Multimodal.id3v2Tags(fix("synthetic_tags_v23.mp3")).get
    assert(t23 == (("Le Titre é", "Artist A", "Album B", "id3v2.3")), s"$t23")
    // v2.4: syncsafe frame sizes (a 130-byte title breaks plain-size
    // parsing), UTF-8, extended header, NUL-terminated multi-value
    val t24 = Multimodal.id3v2Tags(fix("synthetic_tags_v24.mp3")).get
    assert(t24 == (("T" * 130, "Artíst", "Al bum", "id3v2.4")), s"$t24")
    // M4A item list: unknown sibling atom stepped over; audioStats
    // facts still read from the same bytes
    val m4aBytes = fix("synthetic_tags.m4a")
    val tm = Multimodal.m4aTags(m4aBytes).get
    assert(tm == (("M4A Title", "M4A Artist", "M4A Album", "m4a")), s"$tm")
    assert(Multimodal.m4aAudioInfo(m4aBytes).contains((2, 8000, 16000L, "mp4a")))
    // the dataframe surface: id3 preferred, all-null for untagged rows
    val out = Multimodal.audioTags(Seq(
      (1L, fix("synthetic_tags_v23.mp3")),
      (2L, m4aBytes),
      (3L, Multimodal.syntheticM4a(1, 8000, 800L)), // no ilst: untagged
      (4L, "junk".getBytes("UTF-8"))
    ).toDF("id", "content")).select("id", "tags.title", "tags.tag_format")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(out(1L) == ((Some("Le Titre é"), Some("id3v2.3"))))
    assert(out(2L) == ((Some("M4A Title"), Some("m4a"))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((None, None)))
    // scala builders round-trip through the same readers
    val mp3 = Multimodal.syntheticId3(3, "T", "A", "B") ++
      Multimodal.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    assert(Multimodal.id3v2Tags(mp3).contains(("T", "A", "B", "id3v2.3")))
    assert(Multimodal.mpegAudioInfo(mp3).isDefined,
      "the stats walk must still skip the prepended tag")
    assert(Multimodal.id3v2Tags(Multimodal.syntheticId3(4, "t", "a", "b"))
      .contains(("t", "a", "b", "id3v2.4")))
    assert(Multimodal.m4aTags(
      Multimodal.syntheticM4aTagged(2, 8000, 800L, "x", "y", "z"))
      .contains(("x", "y", "z", "m4a")))
  }

  test("audioTags: ID3v2.2 3-char frames and unsynchronised v2.3/v2.4 tags read clean text") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // v2.2 (python fixture): TT2/TP1/TAL with u24 sizes, a UFI frame
    // stepped over, UTF-16 title with non-ASCII
    val t22 = Multimodal.id3v2Tags(fix("synthetic_tags_v22.mp3")).get
    assert(t22 == (("Vieux Titre à", "Old Artist", "Old Album", "id3v2.2")), s"$t22")
    // v2.3 whole-tag unsynchronisation: the UTF-16 BOMs (0xFF 0xFE)
    // are stuffed on disk; ignoring the 0x80 flag garbles every frame
    val tu3 = Multimodal.id3v2Tags(fix("synthetic_tags_v23_unsync.mp3")).get
    assert(tu3 == (("Unsync é", "Artist ü", "Plain Album", "id3v2.3")), s"$tu3")
    // v2.4 per-frame unsynchronisation via the 0x02 format bit, with
    // an untouched UTF-8 frame in the middle
    val tu4 = Multimodal.id3v2Tags(fix("synthetic_tags_v24_unsync.mp3")).get
    assert(tu4 == (("Frame Unsync", "Mixed Artist", "Al ÿ bum", "id3v2.4")), s"$tu4")
    // scala builders round-trip all three versions, synced and not
    for (ver <- Seq(2, 3, 4); un <- Seq(false, true)) {
      val tag = Multimodal.syntheticId3(ver, "Tïtle", "Ärtist", "Albüm", unsync = un)
      assert(Multimodal.id3v2Tags(tag)
        .contains(("Tïtle", "Ärtist", "Albüm", s"id3v2.$ver")),
        s"ver=$ver unsync=$un")
    }
    // the stats walk must still skip an unsynced tag cleanly (the tag
    // header's syncsafe size counts the stuffed bytes)
    val mp3 = Multimodal.syntheticId3(3, "T", "A", "B", unsync = true) ++
      Multimodal.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    assert(Multimodal.mpegAudioInfo(mp3).isDefined)
  }

  test("audioTags: Vorbis comments — FLAC metadata block 4 and the OpusTags packet") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // python fixtures: lowercase `album=` key (case-insensitive match),
    // a COMMENT field to step over, non-ASCII UTF-8 values
    val tf = Multimodal.flacTags(fix("synthetic_tags.flac")).get
    assert(tf == (("Flac Tïtle", "Lossless Ärtist", "Album Nr. 3", "flac")), s"$tf")
    val to = Multimodal.opusTags(fix("synthetic_tags.opus")).get
    assert(to == (("Opus Tïtle", "Voice Ünit", "Ogg LP", "opus")), s"$to")
    // stats facts still read from the tagged bytes (blocks walked, not
    // assumed first/only)
    assert(Multimodal.flacStreamInfo(fix("synthetic_tags.flac"))
      .contains((2, 48000, 16, 96000L)))
    assert(Multimodal.opusInfo(fix("synthetic_tags.opus"))
      .contains((2, 120, 48000, 96120L)))
    // the original header-facts fixtures carry NO readable comments:
    // synthetic.flac's type-4 block body is junk — a declared-but-
    // unreadable block must report untagged, never garbled text
    assert(Multimodal.flacTags(fix("synthetic.flac")).isEmpty)
    assert(Multimodal.opusTags(fix("synthetic.opus")).isEmpty)
    // scala builders round-trip through the same readers
    assert(Multimodal.flacTags(Multimodal.syntheticFlacTagged(
      44100, 2, 16, 44100L, "Tï", "Är", "Öl"))
      .contains(("Tï", "Är", "Öl", "flac")))
    assert(Multimodal.opusTags(Multimodal.syntheticOpusTagged(
      1, 0, 16000, 16000L, "Ode", "Sänger", "Œ"))
      .contains(("Ode", "Sänger", "Œ", "opus")))
    // ...and their stats facts are unchanged by the added blocks/pages
    assert(Multimodal.flacStreamInfo(Multimodal.syntheticFlacTagged(
      44100, 2, 16, 44100L, "t", "a", "b")).contains((2, 44100, 16, 44100L)))
    assert(Multimodal.opusInfo(Multimodal.syntheticOpusTagged(
      1, 0, 16000, 16000L, "t", "a", "b")).contains((1, 0, 16000, 16000L)))
    // Ogg-VORBIS (python fixture): the third Vorbis-comment carrier —
    // ident packet facts + comment-packet tags, PCM-sample granules
    // at the stream's own rate (no Opus fixed-clock rule)
    val ogg = fix("synthetic_tags.ogg")
    val tv = Multimodal.vorbisTags(ogg).get
    assert(tv == (("Vorbis Tïtle", "Ogg Ärtist", "Älbum V", "vorbis")), s"$tv")
    assert(Multimodal.vorbisInfo(ogg).contains((2, 32000, 64000L)))
    assert(Multimodal.opusInfo(ogg).isEmpty, "a Vorbis stream is not Opus")
    assert(Multimodal.vorbisTags(fix("synthetic.opus")).isEmpty,
      "an Opus stream is not Vorbis")
    // scala builder round-trips, with and without the comment packet
    val builtV = Multimodal.syntheticVorbis(1, 22050, 44100L,
      tags = Some(("Tï", "Är", "Öl")))
    assert(Multimodal.vorbisTags(builtV).contains(("Tï", "Är", "Öl", "vorbis")))
    assert(Multimodal.vorbisInfo(builtV).contains((1, 22050, 44100L)))
    assert(Multimodal.vorbisTags(
      Multimodal.syntheticVorbis(2, 8000, 8000L)).isEmpty)
    // the dataframe dispatcher reaches all three carriers
    val out = Multimodal.audioTags(Seq(
      (1L, fix("synthetic_tags.flac")),
      (2L, fix("synthetic_tags.opus")),
      (3L, fix("synthetic.flac")),
      (4L, ogg)
    ).toDF("id", "content")).select("id", "tags.artist", "tags.tag_format")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(out(1L) == ((Some("Lossless Ärtist"), Some("flac"))))
    assert(out(2L) == ((Some("Voice Ünit"), Some("opus"))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((Some("Ogg Ärtist"), Some("vorbis"))))
    // audioStats: vorbis facts with the cross-codec duration invariant
    val st = Multimodal.audioStats(Seq((1L, ogg)).toDF("id", "content"))
      .select("audio.codec", "audio.channels", "audio.sample_rate",
        "audio.n_samples", "audio.duration_ms", "audio.ok").head()
    assert(st.getString(0) == "vorbis" && st.getInt(1) == 2 &&
      st.getInt(2) == 32000 && st.getLong(3) == 64000L &&
      st.getLong(4) == 2000L && st.getBoolean(5))
  }

  test("AVIF: python-built fixture cross-check — compatible-brand scan, ispe/pixi walk, image classification") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic.avif").toURI))
    // the fixture hides `avif` in the COMPATIBLE brand list (major is
    // mif1) and plants an unknown av1C property before ispe
    assert(Multimodal.avifInfo(bytes).contains((1234, 777, 4)))
    assert(Multimodal.sniffMime(bytes) == "image/avif")
    // decode kernel: the ftyp dispatch must pick avif over the movie path
    val d = Multimodal.decode(Seq((1L, bytes)).toDF("id", "content"))
      .select("decoded.format", "decoded.width", "decoded.height",
        "decoded.channels", "decoded.ok").head()
    assert(d.getString(0) == "avif" && d.getInt(1) == 1234 &&
      d.getInt(2) == 777 && d.getInt(3) == 4 && d.getBoolean(4))
    // stats surface: an image with real dims, pixel stats null, gps
    // FALSE — this fixture declares NO EXIF item, so it is known
    // location-free (the iinf/iloc walk makes the flag real for AVIF)
    val s = Multimodal.imageStats(Seq((1L, bytes)).toDF("id", "content"))
      .select("stats.ok", "stats.width", "stats.height", "stats.avg_r",
        "stats.exif_gps").head()
    assert(s.getBoolean(0) && s.getInt(1) == 1234 && s.getInt(2) == 777)
    assert(s.isNullAt(3) && !s.getBoolean(4))
    // scala builder round-trips; movies and audio are NOT avif
    assert(Multimodal.avifInfo(Multimodal.syntheticAvif(64, 32, 3))
      .contains((64, 32, 3)))
    assert(Multimodal.avifInfo(Multimodal.syntheticMp4(32, 32, 1000L)).isEmpty)
    assert(Multimodal.m4aAudioInfo(bytes).isEmpty,
      "a pict-handler BMFF must not read as audio")
    assert(Multimodal.mpegAudioInfo(bytes).isEmpty)
  }

  test("audioTags: WAV LIST/INFO and Matroska Tags — the last two carriers") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // WAV python fixture: odd-length padded strings, an ICMT sub-chunk
    // to step over, NUL terminators trimmed
    val tw = Multimodal.wavInfoTags(fix("synthetic_tags.wav")).get
    assert(tw == (("Wäve Tïtle", "Mono Märtyr", "PCM LP", "wav")), s"$tw")
    // the stats walk still decodes the PCM THROUGH the LIST chunk
    val st = Multimodal.audioStats(Seq((1L, fix("synthetic_tags.wav")))
      .toDF("id", "content")).select("audio.ok", "audio.codec",
      "audio.sample_rate", "audio.n_samples").head()
    assert(st.getBoolean(0) && st.getString(1) == "pcm" &&
      st.getInt(2) == 8000 && st.getLong(3) == 64L)
    // Matroska python fixture: mixed-case SimpleTag names match
    // case-insensitively; RATING stepped over
    val tm = Multimodal.webmTags(fix("synthetic_audio.mka")).get
    assert(tm == (("Mätroska Tïtle", "EBML Ärtist", "Cluster LP",
      "matroska")), s"$tm")
    // an untagged WAV / webm reports None, not empty-Some
    val bare = Multimodal.renderWav(8000, 1,
      Array.tabulate[Short](16)(_.toShort))
    assert(Multimodal.wavInfoTags(bare).isEmpty)
    assert(Multimodal.webmTags(fix("synthetic.webm")).isEmpty)
    // scala builders round-trip
    assert(Multimodal.wavInfoTags(Multimodal.wavWithInfoTags(
      bare, "Tï", "Är", "Öl")).contains(("Tï", "Är", "Öl", "wav")))
    assert(Multimodal.webmTags(Multimodal.syntheticWebm("audio",
      channels = 1, sampleRate = 16000, durationMs = 500L,
      tags = Some(("T", "A", "B")))).contains(("T", "A", "B", "matroska")))
    // the spliced WAV still yields its PCM stats (RIFF size fixed up)
    val tagged = Multimodal.wavWithInfoTags(bare, "x", "y", "z")
    assert(Multimodal.audioStats(Seq((1L, tagged)).toDF("id", "content"))
      .select("audio.ok").head().getBoolean(0))
    // dataframe dispatcher reaches both
    val out = Multimodal.audioTags(Seq(
      (1L, fix("synthetic_tags.wav")),
      (2L, fix("synthetic_audio.mka")),
      (3L, bare)
    ).toDF("id", "content")).select("id", "tags.title", "tags.tag_format")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(out(1L) == ((Some("Wäve Tïtle"), Some("wav"))))
    assert(out(2L) == ((Some("Mätroska Tïtle"), Some("matroska"))))
    assert(out(3L) == ((None, None)))
  }

  test("WebM/Matroska: EBML walk — python fixture axes, primary modality, card classification") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // python fixture: UNKNOWN-size Segment, mixed VINT widths, 4-byte
    // float Duration, TrackType AFTER the Video element, an unknown
    // SeekHead to step over, audio track BEFORE video (video must
    // still win as the primary modality), a 4-entry Cues table
    val vid = fix("synthetic.webm")
    val w = Multimodal.webmInfo(vid).get
    assert(w.docType == "webm" && w.kind == "video")
    assert(w.width == 1920 && w.height == 1080 && w.codec == "V_VP9")
    assert(w.durationMs == 2500L && w.cuePoints == 4)
    assert(Multimodal.videoKeyframes(vid).intValue() == 4,
      "Cues entries are the seekable-keyframe count")
    // audio-only matroska: 8-byte float rate, NO duration (stays null)
    val aud = fix("synthetic_audio.mka")
    val a = Multimodal.webmInfo(aud).get
    assert(a.docType == "matroska" && a.kind == "audio")
    assert(a.channels == 1 && a.sampleRate == 48000 && a.codec == "A_OPUS")
    assert(a.durationMs == null && a.cuePoints == 0)
    // scala builder round-trips both kinds
    val bv = Multimodal.syntheticWebm("video", width = 640, height = 360,
      durationMs = 4000L, codec = "V_AV1", cuePoints = 7)
    val wv = Multimodal.webmInfo(bv).get
    assert(wv.kind == "video" && wv.width == 640 && wv.height == 360 &&
      wv.durationMs == 4000L && wv.codec == "V_AV1" && wv.cuePoints == 7)
    val ba = Multimodal.syntheticWebm("audio", channels = 2,
      sampleRate = 24000, durationMs = 3000L, codec = "A_VORBIS")
    val wa = Multimodal.webmInfo(ba).get
    assert(wa.kind == "audio" && wa.channels == 2 && wa.sampleRate == 24000)
    // decode kernel: video rows carry dims, audio rows carry the clock
    val dec = Multimodal.decode(Seq((1L, vid), (2L, aud))
      .toDF("id", "content"))
      .select("id", "decoded.format", "decoded.width", "decoded.channels",
        "decoded.sample_rate", "decoded.ok").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(dec(1L).getString(1) == "webm" && dec(1L).getInt(2) == 1920 &&
      dec(1L).isNullAt(3) && dec(1L).getBoolean(5))
    assert(dec(2L).getString(1) == "matroska" && dec(2L).isNullAt(2) &&
      dec(2L).getInt(3) == 1 && dec(2L).getInt(4) == 48000)
    // audioStats claims ONLY the audio-primary file; the card then
    // classifies video-webm as video and audio-mka as audio
    val st = Multimodal.audioStats(Seq((1L, vid), (2L, aud))
      .toDF("id", "content"))
      .select("id", "audio.ok", "audio.codec").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(st(1L) == ((false, null)), "a movie is not audio")
    assert(st(2L) == ((true, "matroska-opus")))
    val card = Multimodal.mediaCard(Seq(
      ("g", vid), ("g", aud), ("g", Multimodal.syntheticWebm("audio",
        channels = 2, sampleRate = 8000, durationMs = 1000L)))
      .toDF("grp", "content"), "content", "grp")
      .collect().map(r => r.getString(1) ->
        Option(r.getAs[java.lang.Double]("value"))).toMap
    assert(card("pct_video") == Some(BigDecimal(1.0 / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(card("pct_audio") == Some(BigDecimal(2.0 / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(card("pct_undecodable") == Some(0.0))
    assert(card("avg_video_keyframes") == Some(4.0))
    // hostile EBML: 100k-deep nesting exhausts the cap, not the stack
    def nested(depth: Int): Array[Byte] = {
      var cur = Array.emptyByteArray
      var i = 0
      while (i < depth) {
        // Segment header with a 4-byte size VINT around the payload
        val size = Array((0x10 | (cur.length >> 24)).toByte,
          ((cur.length >> 16) & 0xff).toByte,
          ((cur.length >> 8) & 0xff).toByte, (cur.length & 0xff).toByte)
        cur = Array(0x18.toByte, 0x53.toByte, 0x80.toByte, 0x67.toByte) ++
          size ++ cur
        i += 1
      }
      Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
        0x80.toByte) ++ cur
    }
    assert(Multimodal.webmInfo(nested(100000)).isEmpty)
    assert(Multimodal.videoKeyframes(nested(100000)) == null)
    // the round-13 subtitle walker shares the pathology — and the cap
    assert(Multimodal.webmSubtitleCues(nested(100000)).isEmpty)
    assert(Multimodal.webmPgsBitmaps(nested(100000)).isEmpty)
    // no declared track survives the cap: unknown (null), never a throw
    assert(Multimodal.subtitleTrackCount(nested(100000)) == null)
  }

  test("scrubGps: surgical GPS removal across all five carriers — pixels and other metadata intact") {
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    def checkScrub(b: Array[Byte], label: String): Array[Byte] = {
      assert(Multimodal.exifGpsPresent(b) == java.lang.Boolean.TRUE, label)
      val s = Multimodal.scrubGps(b)
      assert(Multimodal.exifGpsPresent(s) == java.lang.Boolean.FALSE,
        s"$label: GPS flag must clear")
      assert(s.length == b.length, s"$label: length unchanged (in-place surgery)")
      assert(!(s eq b), s"$label: original bytes untouched")
      s
    }
    // TIFF (its own IFD0): pixels must survive bit-exact
    val tiff = Multimodal.syntheticTiff(9, 5, (x, y) => (x << 16) | (y << 8) | 7,
      gps = true)
    val sTiff = checkScrub(tiff, "tiff")
    val p0 = Multimodal.decodePixels(tiff).get
    val p1 = Multimodal.decodePixels(sTiff).get
    assert((0 until 5).forall(y => (0 until 9).forall(x =>
      p0.getRGB(x, y) == p1.getRGB(x, y))), "tiff pixels bit-identical")
    // PNG eXIf (CRC recomputed — ImageIO rejects a bad chunk CRC)
    val png = Multimodal.pngWithExif(
      Multimodal.renderPng(6, 4, (_, _) => 0x335577), gps = true)
    val sPng = checkScrub(png, "png")
    assert(Multimodal.decodePixels(sPng).exists(i =>
      i.getRGB(2, 2) == Multimodal.decodePixels(png).get.getRGB(2, 2)))
    // WebP EXIF chunk (python fixture): header facts preserved
    val webp = fix("synthetic.webp")
    val sWebp = checkScrub(webp, "webp")
    assert(Multimodal.webpInfo(sWebp) == Multimodal.webpInfo(webp))
    // HEIF item indirection, both fixture layouts (avif v1-iloc with
    // base+offset split, scala heic v0-iloc)
    checkScrub(fix("synthetic_gps.avif"), "avif")
    checkScrub(Multimodal.syntheticAvif(64, 32, gps = true, brand = "heic"),
      "heic")
    // JPEG APP1: ORIENTATION must survive the GPS surgery — that is
    // the whole point over dropping the APP1 segment
    val base = Multimodal.renderJpeg(16, 16, (_, _) => 0x808080)
    def entry(bb: java.nio.ByteBuffer, tag: Int, typ: Int, v: Long): Unit = {
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) bb.putShort(v.toShort).putShort(0) else bb.putInt(v.toInt)
    }
    val jpegGps = {
      val ifdBytes = 2 + 12 * 2 + 4
      val tiffB = java.nio.ByteBuffer.allocate(8 + ifdBytes + 6)
      tiffB.put("MM".getBytes("ISO-8859-1")).putShort(42).putInt(8)
      tiffB.putShort(2)
      entry(tiffB, 0x0112, 3, 6L) // orientation 6 (rotate 90)
      entry(tiffB, 0x8825, 4, (8 + ifdBytes).toLong)
      tiffB.putInt(0)
      tiffB.putShort(0).putInt(0) // empty GPS IFD
      val payload = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++
        tiffB.array()
      Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE1.toByte,
        (((payload.length + 2) >> 8) & 0xff).toByte,
        ((payload.length + 2) & 0xff).toByte) ++ payload ++ base.drop(2)
    }
    assert(Multimodal.exifOrientation(jpegGps) == 6)
    val sJpeg = checkScrub(jpegGps, "jpeg")
    assert(Multimodal.exifOrientation(sJpeg) == 6,
      "orientation survives — the surgical advantage over APP1 drop")
    // GPS coordinate BYTES are gone, not just unreachable: a scrubbed
    // real-coordinates TIFF carries no trace of the rational values
    val marker = Array[Byte](0x11, 0x22, 0x33, 0x44, 0x55, 0x66, 0x77, 0x88.toByte)
    // build a TIFF whose GPS IFD holds one RATIONAL entry pointing at
    // marker bytes; after scrub the marker must be zeroed
    val withCoords = {
      val base = Multimodal.syntheticTiff(4, 4, (_, _) => 0x102030, gps = true)
      // append: a 1-entry GPS IFD + the rational payload; repoint the
      // 0x8825 value (LE u32 at the entry's +8) at the appended IFD
      val gpsIfd = java.nio.ByteBuffer.allocate(2 + 12 + 4 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifdOff = base.length
      gpsIfd.putShort(1)
      gpsIfd.putShort(2).putShort(5).putInt(1).putInt(ifdOff + 2 + 12 + 4) // GPSLatitude RATIONAL
      gpsIfd.putInt(0)
      gpsIfd.put(marker)
      val out = base ++ gpsIfd.array()
      // IFD0's 0x8825 entry: find it (LE tag bytes 25 88) and repoint
      var e = -1
      var i = 8
      while (e < 0 && i + 12 <= out.length) {
        if ((out(i) & 0xff) == 0x25 && (out(i + 1) & 0xff) == 0x88) e = i
        i += 1
      }
      assert(e > 0, "gps entry located")
      val bb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(ifdOff)
      System.arraycopy(bb.array(), 0, out, e + 8, 4)
      out
    }
    assert(withCoords.containsSlice(marker))
    val sCoords = checkScrub(withCoords, "tiff-coords")
    assert(!sCoords.containsSlice(marker),
      "out-of-line rational coordinate bytes must be ZEROED, not orphaned")
    // hostile: a TRUNCATED GPS entry (the region ends mid-entry) is
    // left alone — unchanged bytes, never a write past the EXIF block
    val truncated = {
      // WebP EXIF chunk whose TIFF region stops 4 bytes into the
      // 0x8825 entry: the flag still sees the tag, the scrub refuses
      val tiffB = java.nio.ByteBuffer.allocate(8 + 2 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tiffB.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      tiffB.putShort(1).putShort(0x8825.toShort).putShort(4)
      val body = tiffB.array()
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(4 + 8 + body.length)
        .put("WEBP".getBytes("ISO-8859-1"))
        .put("EXIF".getBytes("ISO-8859-1")).putInt(body.length).put(body)
      bb.array()
    }
    assert(Multimodal.exifGpsPresent(truncated) == java.lang.Boolean.TRUE)
    assert(Multimodal.scrubGps(truncated) eq truncated,
      "an unscubbable truncated entry returns the ORIGINAL, unmodified")
    // clean bytes return the SAME reference — a scrub pass over a
    // clean corpus allocates nothing
    val clean = Multimodal.renderPng(4, 4, (_, _) => 0x111111)
    assert(Multimodal.scrubGps(clean) eq clean)
    assert(Multimodal.scrubGps("junk".getBytes("UTF-8")).length == 4)
    // dataframe surface: map-only codegen'd projection; the scrubbed
    // column feeds imageStats with the flag cleared and pixels intact
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("content", BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, jpegGps),
      org.apache.spark.sql.Row(2L, png)), 2), schema)
      .withColumn("content", Multimodal.scrubGpsCol(col("content")))
    val got = Multimodal.imageStats(df)
      .select(col("id"), col("stats.ok"), col("stats.exif_gps")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((true, false)) && got(2L) == ((true, false)))
  }

  test("JPEG XL: SizeHeader bit walk — codestream + container, div8, ratio table") {
    val M = Multimodal
    // general 30-bit coding, explicit xsize
    assert(M.jxlInfo(M.syntheticJxl(1920, 1080)).contains((1920, 1080)))
    // div8 small form (dims multiples of 8, <= 256)
    assert(M.jxlInfo(M.syntheticJxl(256, 64, div8 = true))
      .contains((256, 64)))
    // ratio-coded xsize: 16:9 of ysize (ratio index 5)
    assert(M.jxlInfo(M.syntheticJxl(0, 1080, ratio = 5))
      .contains((1920, 1080)))
    // 4:3 (index 3) in div8 form
    assert(M.jxlInfo(M.syntheticJxl(0, 48, div8 = true, ratio = 3))
      .contains((64, 48)))
    // BMFF container with jxlc box
    assert(M.jxlInfo(M.syntheticJxl(800, 600, container = true))
      .contains((800, 600)))
    // python fixture cross-check
    val fixJxl = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic.jxl").toURI))
    assert(M.jxlInfo(fixJxl).contains((1234, 777)))
    val fixJxlC = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic_container.jxl").toURI))
    assert(M.jxlInfo(fixJxlC).contains((320, 240)))
    // truncated/junk degrade
    assert(M.jxlInfo(Array[Byte](0xFF.toByte, 0x0A)).isEmpty)
    assert(M.jxlInfo("junk".getBytes("UTF-8")).isEmpty)
    // decode/stats/mime surfaces classify jxl as an image
    val d = M.imageStats(M.decode(Seq((1L, fixJxl)).toDF("id", "content")))
      .select("decoded.format", "decoded.width", "stats.ok",
        "stats.width").head()
    assert(d.getString(0) == "jxl" && d.getInt(1) == 1234 &&
      d.getBoolean(2) && d.getInt(3) == 1234)
    assert(M.sniffMime(fixJxlC) == "image/jxl")
    // a JXL container never reads as a movie or HEIF still
    assert(M.heifBrand(fixJxlC).isEmpty)
    assert(M.mp4VideoTrack(fixJxlC).isEmpty)
    // GPS: the container's raw Exif box feeds the same TIFF scan —
    // flag, scrub, and survival, like every other carrier
    val gpsJxl = M.syntheticJxl(320, 240, container = true, gps = true)
    assert(M.exifGpsPresent(gpsJxl) == java.lang.Boolean.TRUE)
    assert(M.exifGpsPresent(fixJxlC) == java.lang.Boolean.FALSE,
      "a container without an Exif box is location-free")
    assert(M.exifGpsPresent(M.syntheticJxl(8, 8)) == null,
      "a naked codestream has no metadata container: unknown")
    val scrubbed = M.scrubGps(gpsJxl)
    assert(M.exifGpsPresent(scrubbed) == java.lang.Boolean.FALSE)
    assert(scrubbed.length == gpsJxl.length)
    assert(M.jxlInfo(scrubbed).contains((320, 240)), "dims survive the scrub")
  }

  test("AIFF/AIFF-C: real PCM decode (big-endian + sowt), 80-bit rate, NAME/AUTH tags") {
    val M = Multimodal
    // closed-form samples: alternating ±9000 square at 22050 Hz mono
    val sq = Array.tabulate[Short](441)(i => if (i % 2 == 0) 9000 else -9000)
    val aiff = M.renderAiff(22050, 1, sq)
    val Some((ch, sr, bits, s)) = M.pcmSamples(aiff)
    assert(ch == 1 && sr == 22050 && bits == 16 && s.length == 441)
    assert(s(0) == 9000 && s(1) == -9000)
    // AIFF-C sowt (little-endian): identical samples through the
    // other byte order, 44100 exercises a different ext80 exponent
    val sowt = M.renderAiff(44100, 2, sq ++ sq, sowt = true)
    val Some((ch2, sr2, _, s2)) = M.pcmSamples(sowt)
    assert(ch2 == 2 && sr2 == 44100 && s2.length == 882 && s2(0) == 9000)
    // stats surface: exact integer arithmetic like WAV
    val st = M.audioStats(Seq((1L, aiff)).toDF("id", "content"))
      .select("audio.ok", "audio.codec", "audio.sample_rate",
        "audio.n_samples", "audio.rms_norm").head()
    assert(st.getBoolean(0) && st.getString(1) == "pcm" &&
      st.getInt(2) == 22050 && st.getLong(3) == 441L)
    assert(st.getDouble(4) == BigDecimal(9000.0 / 32767)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the perceptual hash runs on AIFF PCM like WAV PCM: the same
    // samples in both containers hash identically (cross-container
    // dedup for uncompressed audio)
    val wav = M.renderWav(22050, 1, sq)
    assert(M.audioHash64(aiff) != null &&
      M.audioHash64(aiff) == M.audioHash64(wav))
    // tags: NAME/AUTH; album stays null (AIFF has no album chunk)
    val tagged = M.renderAiff(8000, 1, sq.take(16),
      name = "Aiff Tïtle", author = "Big Endian Bänd")
    assert(M.aiffTags(tagged).contains(
      ("Aiff Tïtle", "Big Endian Bänd", null, "aiff")))
    assert(M.aiffTags(aiff).isEmpty, "untagged AIFF reports None")
    val out = M.audioTags(Seq((1L, tagged)).toDF("id", "content"))
      .select("tags.title", "tags.album", "tags.tag_format").head()
    assert(out.getString(0) == "Aiff Tïtle" && out.isNullAt(1) &&
      out.getString(2) == "aiff")
    // magic discipline: AIFF never parses as MPEG/ADTS (sample bytes
    // can chance-contain sync patterns — the BMP lesson), and junk
    // FORM containers degrade
    assert(M.mpegAudioInfo(aiff).isEmpty && M.adtsAudioInfo(aiff).isEmpty)
    assert(M.pcmSamples("FORMxxxxJUNK".getBytes("ISO-8859-1")).isEmpty)
    // python fixture cross-check: text chunks BEFORE COMM, padded
    // odd-length NAME, an ANNO chunk to step over
    val fixAiff = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic_tags.aiff").toURI))
    assert(M.aiffTags(fixAiff).contains(
      ("Fïxture Aiff", "Pythön Author", null, "aiff")))
    val Some((fc, fr, fb, fs)) = M.pcmSamples(fixAiff)
    assert(fc == 1 && fr == 11025 && fb == 16 && fs.length == 32 &&
      fs(0) == 7000 && fs(1) == -7000)
  }

  test("videoGpsPresent/scrubVideoGps: the QuickTime ©xyz location atom — flag, scrub, survival") {
    val M = Multimodal
    val movie = M.syntheticMjpegMp4(
      Seq(M.renderJpeg(8, 8, (_, _) => 0x606060)))
    assert(M.videoGpsPresent(movie) == java.lang.Boolean.FALSE,
      "a movie without a location atom is location-free")
    val located = M.mp4WithGps(movie)
    assert(M.videoGpsPresent(located) == java.lang.Boolean.TRUE)
    assert(new String(located, "ISO-8859-1").contains("+37.7749-122.4194/"))
    // scrub: same length, coordinates gone, movie still demuxes
    val scrubbed = M.scrubVideoGps(located)
    assert(scrubbed.length == located.length)
    assert(M.videoGpsPresent(scrubbed) == java.lang.Boolean.FALSE)
    assert(!new String(scrubbed, "ISO-8859-1").contains("37.7749"),
      "coordinate BYTES zeroed, not just unreachable")
    assert(M.mp4VideoTrack(scrubbed).isDefined,
      "the sample tables survive the surgery")
    assert(M.videoFingerprint64(scrubbed) != null &&
      M.videoFingerprint64(scrubbed) == M.videoFingerprint64(movie),
      "keyframe bytes untouched: exact dedup identity preserved")
    // audio (M4A) containers carry the same atom
    val m4a = M.mp4WithGps(M.syntheticM4a(1, 8000, 800L))
    assert(M.videoGpsPresent(m4a) == java.lang.Boolean.TRUE)
    assert(M.m4aAudioInfo(M.scrubVideoGps(m4a)).isDefined)
    // non-BMFF and HEIF stills are null-unknown (stills are
    // exifGpsPresent's job)
    assert(M.videoGpsPresent("junk".getBytes("UTF-8")) == null)
    assert(M.videoGpsPresent(M.syntheticAvif(8, 8, gps = true)) == null)
    // clean bytes come back by reference
    assert(M.scrubVideoGps(movie) eq movie)
  }

  test("animated WebP: ANMF frame walk mirrors the GIF facts; animationInfo dispatches both") {
    val M = Multimodal
    val anim = M.syntheticAnimatedWebp(Seq(40, 60, 100), loops = 3)
    val a = M.webpAnimationInfo(anim).get
    assert(a.frames == 3 && a.durationMs == 200L && a.loops == 3)
    // a still WebP (lossless or lossy) is not an animation
    assert(M.webpAnimationInfo(M.syntheticVp8lTwoTone(8, 8, (_, _) => false,
      0xff000000, 0xffffffff)).isEmpty)
    assert(M.webpAnimationInfo(M.syntheticWebp("vp8", 64, 48)).isEmpty)
    // the container still reads as an image (VP8X header dims)
    assert(M.webpInfo(anim).contains((16, 16, 3, "vp8x")))
    // one dispatch covers both animated containers
    assert(M.animationInfo(anim).get.frames == 3)
    assert(M.animationInfo(M.syntheticGif(Seq(10, 20))).get.frames == 2)
    assert(M.animationInfo(M.renderPng(4, 4, (_, _) => 0x123123)).isEmpty)
  }

  test("HEIC: the iPhone HEIF brands share the AVIF walk — dims, GPS, format family") {
    // heic major brand: same meta/iprp/ipco walk, reported as heic
    val heic = Multimodal.syntheticAvif(4032, 3024, brand = "heic")
    assert(Multimodal.heifBrand(heic).contains("heic"))
    assert(Multimodal.avifInfo(heic).contains((4032, 3024, 3)))
    assert(Multimodal.sniffMime(heic) == "image/heic")
    // the flagship PII case: an iPhone photo's GPS EXIF item resolves
    // through the same iinf/iloc indirection
    val heicGps = Multimodal.syntheticAvif(100, 50, gps = true, brand = "heix")
    assert(Multimodal.exifGpsPresent(heicGps) == java.lang.Boolean.TRUE)
    assert(Multimodal.exifGpsPresent(heic) == java.lang.Boolean.FALSE)
    // generic mif1 major with no codec brand reports the heif base
    val heif = Multimodal.syntheticAvif(10, 10, brand = "mif1")
    assert(Multimodal.heifBrand(heif).contains("heif"))
    // specific codec brands beat the generic base wherever they appear
    assert(Multimodal.heifBrand(
      Multimodal.syntheticAvif(10, 10, brand = "avif")).contains("avif"),
      "avif major + mif1 compatible stays avif")
    // movies are still movies (no image brand)
    assert(Multimodal.heifBrand(Multimodal.syntheticMp4(8, 8, 100L)).isEmpty)
    assert(Multimodal.heifBrand(Multimodal.syntheticM4a(1, 8000, 80L)).isEmpty)
    // stats/decode surfaces classify heic as an image with real dims
    val d = Multimodal.imageStats(Multimodal.decode(
      Seq((1L, heic)).toDF("id", "content")))
      .select("decoded.format", "decoded.width", "stats.ok",
        "stats.exif_gps").head()
    assert(d.getString(0) == "heic" && d.getInt(1) == 4032 &&
      d.getBoolean(2) && !d.getBoolean(3))
  }

  test("GIF animation: structural frame/delay/loop walk; stills and truncation degrade") {
    // 3 frames, 25+50+100 cs, infinite loop
    val anim = Multimodal.syntheticGif(Seq(25, 50, 100), loops = Some(0))
    val g = Multimodal.gifAnimationInfo(anim).get
    assert(g.frames == 3 && g.durationMs == 1750L && g.loops == 0)
    // ImageIO still decodes the first frame — a GIF stays an image
    assert(Multimodal.decodePixels(anim).exists(i =>
      i.getWidth == 1 && i.getHeight == 1))
    // finite loop count; single frame with no GCE reports 1 frame
    assert(Multimodal.gifAnimationInfo(
      Multimodal.syntheticGif(Seq(10), loops = Some(7))).get.loops == 7)
    val still = Multimodal.renderImage("gif", 6, 4, (_, _) => 0x112233)
    val sg = Multimodal.gifAnimationInfo(still).get
    assert(sg.frames == 1 && sg.loops == null)
    // truncation mid-frame keeps the intact prefix, never throws
    val cut = java.util.Arrays.copyOfRange(anim, 0, anim.length - 8)
    assert(Multimodal.gifAnimationInfo(cut).exists(_.frames == 2))
    assert(Multimodal.gifAnimationInfo("GIF8junk".getBytes("UTF-8")).isEmpty
      || true) // malformed: None or clean degrade, never a throw
    assert(Multimodal.gifAnimationInfo("nope".getBytes("UTF-8")).isEmpty)
  }

  test("PNG eXIf chunk: the 2017 extension carries GPS; decode survives the splice") {
    val png = Multimodal.renderPng(10, 6, (x, y) => (x << 16) | (y << 8) | 7)
    val withGps = Multimodal.pngWithExif(png, gps = true)
    val noGps = Multimodal.pngWithExif(png, gps = false)
    assert(Multimodal.exifGpsPresent(withGps) == java.lang.Boolean.TRUE)
    assert(Multimodal.exifGpsPresent(noGps) == java.lang.Boolean.FALSE)
    assert(Multimodal.exifGpsPresent(png) == java.lang.Boolean.FALSE,
      "a PNG with no eXIf chunk is location-free, not unknown")
    // ImageIO must still decode the raster through the spliced chunk
    // (valid CRC, chunk between IHDR and IDAT), pixels identical
    val a = Multimodal.decodePixels(png).get
    val b = Multimodal.decodePixels(withGps).get
    assert(b.getWidth == 10 && b.getHeight == 6)
    assert((0 until 6).forall(y => (0 until 10).forall(x =>
      a.getRGB(x, y) == b.getRGB(x, y))))
    // GIF/BMP remain null-unknown (no EXIF carrier exists for them)
    assert(Multimodal.exifGpsPresent(
      Multimodal.renderImage("gif", 4, 4, (_, _) => 0x808080)) == null)
  }

  test("AVIF GPS: iinf/iloc item indirection resolves the EXIF block for the PII flag") {
    // python fixture: infe VERSION 3 (u32 item ids), iloc VERSION 1
    // (construction_method, 4-byte base_offset SPLIT against a 4-byte
    // extent offset, index_size 4), a primary av01 item BEFORE the
    // Exif one, and the libavif-style ExifDataBlock offset 6 pointing
    // past an "Exif\0\0" prefix — all paths the scala builder's
    // v2/v0 layout does not touch
    val gpsBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic_gps.avif").toURI))
    assert(Multimodal.exifGpsPresent(gpsBytes) == java.lang.Boolean.TRUE)
    // dims still read; the iinf/iloc/mdat siblings don't disturb ipco
    assert(Multimodal.avifInfo(gpsBytes).contains((1234, 777, 4)))
    // scala builder: infe v2 / iloc v0, bare TIFF at offset 0
    val built = Multimodal.syntheticAvif(320, 200, gps = true)
    assert(Multimodal.exifGpsPresent(built) == java.lang.Boolean.TRUE)
    assert(Multimodal.avifInfo(built).contains((320, 200, 3)))
    // a GPS-less AVIF is location-FREE (false), not unknown
    assert(Multimodal.exifGpsPresent(Multimodal.syntheticAvif(64, 32))
      == java.lang.Boolean.FALSE)
    // iloc construction method 1: extents relative to meta/idat — the
    // iOS/encoder layout; the flag resolves it and the scrub reaches it
    val idatAvif = Multimodal.syntheticAvif(320, 200, gps = true,
      idatExif = true)
    assert(Multimodal.exifGpsPresent(idatAvif) == java.lang.Boolean.TRUE)
    assert(Multimodal.avifInfo(idatAvif).contains((320, 200, 3)))
    val idatScrubbed = Multimodal.scrubGps(idatAvif)
    assert(Multimodal.exifGpsPresent(idatScrubbed) == java.lang.Boolean.FALSE)
    assert(idatScrubbed.length == idatAvif.length &&
      !java.util.Arrays.equals(idatScrubbed, idatAvif))
    // hostile: an idat too short for the declared extent must degrade
    // to UNKNOWN (null), never false — the gate fails closed
    val truncIdat = java.util.Arrays.copyOf(idatAvif, idatAvif.length)
    val idatAt = {
      var i = 0
      while (!(truncIdat(i + 4) == 'i' && truncIdat(i + 5) == 'd' &&
        truncIdat(i + 6) == 'a' && truncIdat(i + 7) == 't')) i += 1
      i
    }
    // shrink the idat box size by 4: the extent now overruns it
    val oldSize = java.nio.ByteBuffer.wrap(truncIdat, idatAt, 4).getInt
    java.nio.ByteBuffer.wrap(truncIdat, idatAt, 4).putInt(oldSize - 4)
    assert(Multimodal.exifGpsPresent(truncIdat) == null,
      "declared-but-unresolvable EXIF must read unknown, not false")
    assert(Multimodal.scrubGps(truncIdat) eq truncIdat,
      "the scrub cannot locate what the flag cannot; bytes pass through")
    // construction method 2 (item_offset) is out of walk scope: the
    // same honest-unknown rule applies
    val m2 = java.util.Arrays.copyOf(idatAvif, idatAvif.length)
    val ilocAt = {
      var i = 0
      while (!(m2(i + 4) == 'i' && m2(i + 5) == 'l' &&
        m2(i + 6) == 'o' && m2(i + 7) == 'c')) i += 1
      i
    }
    // iloc body: +8 skips size+fourcc; method u16 sits at body+10
    m2(ilocAt + 8 + 11) = 2
    assert(Multimodal.exifGpsPresent(m2) == null)
    // non-AVIF BMFF (a movie) stays null: the flag is about formats
    // that can carry EXIF through a walk we implement
    assert(Multimodal.exifGpsPresent(Multimodal.syntheticMp4(32, 32, 1000L))
      == null)
    // stats surface: gps true rides an ok image row
    val s = Multimodal.imageStats(Seq((1L, gpsBytes), (2L, built))
      .toDF("id", "content"))
      .select("id", "stats.ok", "stats.exif_gps").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(s(1L) == ((true, true)) && s(2L) == ((true, true)))
  }

  test("hostile BMFF nesting: thousands of nested container boxes exhaust the cap, not the stack") {
    // 100k iprp boxes nested 8 bytes at a time would otherwise recurse
    // 100k frames deep and kill the executor with a StackOverflowError
    def nested(fourcc: String, depth: Int, innermost: Array[Byte]): Array[Byte] = {
      var cur = innermost
      var i = 0
      while (i < depth) {
        val bb = java.nio.ByteBuffer.allocate(8 + cur.length)
        bb.putInt(8 + cur.length).put(fourcc.getBytes("ISO-8859-1")).put(cur)
        cur = bb.array()
        i += 1
      }
      cur
    }
    val ftyp = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(16).put("ftyp".getBytes("ISO-8859-1"))
        .put("avif".getBytes("ISO-8859-1")).putInt(0)
      bb.array()
    }
    val hostileAvif = ftyp ++ nested("iprp", 100000, Array.emptyByteArray)
    assert(Multimodal.avifInfo(hostileAvif).isEmpty) // no throw, no dims
    val hostileM4a = ftyp ++ nested("udta", 100000, Array.emptyByteArray)
    assert(Multimodal.m4aTags(hostileM4a).isEmpty) // no throw, no ilst
    // the SAME pathology through every other recursive walker: 100k
    // nested moov boxes reach m4aAudioInfo and mp4VideoTrack (and the
    // codegen'd keyframe kernels above them); a crafted row must
    // degrade to None/null, never StackOverflowError the task
    val hostileMoov = ftyp ++ nested("moov", 100000, Array.emptyByteArray)
    assert(Multimodal.m4aAudioInfo(hostileMoov).isEmpty)
    assert(Multimodal.mp4VideoTrack(hostileMoov).isEmpty)
    assert(Multimodal.videoKeyframeHashes(hostileMoov) == null)
    assert(Multimodal.videoFingerprint64(hostileMoov) == null)
    assert(Multimodal.videoKeyframes(hostileMoov) == null)
    // the round-13 handler walk too: capped, returns what it saw
    assert(Multimodal.mp4TrackHandlers(hostileMoov).isEmpty)
    assert(Multimodal.subtitleTrackCount(hostileMoov) == 0)
    // RIFF edition: 100k correctly-typed nested LISTs through the AVI
    // frame walk (little-endian sizes, 4-byte subtype per LIST)
    def nestedList(depth: Int): Array[Byte] = {
      var cur = "movi".getBytes("ISO-8859-1")
      var i = 0
      while (i < depth) {
        val bb = java.nio.ByteBuffer.allocate(8 + cur.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("LIST".getBytes("ISO-8859-1")).putInt(cur.length).put(cur)
        cur = "movi".getBytes("ISO-8859-1") ++ bb.array()
        i += 1
      }
      val riff = java.nio.ByteBuffer.allocate(8 + cur.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      riff.put("RIFF".getBytes("ISO-8859-1")).putInt(cur.length).put(cur)
      riff.array()
    }
    val hostileAvi = nestedList(100000)
    assert(Multimodal.videoKeyframeHashes(hostileAvi) == null)
    assert(Multimodal.videoKeyframes(hostileAvi) == null)
    // and audioStats' per-row dispatcher survives both hostile rows
    // inside a real scan (error rows, job completes)
    val scanned = Multimodal.audioStats(Seq(
      (1L, hostileMoov), (2L, hostileAvi)).toDF("id", "content"))
      .select("audio.ok").collect()
    assert(scanned.forall(!_.getBoolean(0)))
    // the codegen'd expressions complete a real scan over hostile rows
    // (null out per row — the corpus-dedup projection never dies)
    val cg = Seq((1L, hostileMoov), (2L, hostileAvi))
      .toDF("id", "content")
      .select(
        Multimodal.videoFingerprint64Col(col("content")).as("fp"),
        Multimodal.videoKeyframeHashesCol(col("content")).as("khs"),
        Multimodal.videoKeyframesCol(col("content")).as("kf"))
      .collect()
    assert(cg.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)))
    // the round-13 walkers hold the same contract: the GPS flags/
    // scrubs, the HEIF item walk, and the modality classifier all
    // degrade on 100k-deep nesting instead of dying. (hostileMoov's
    // ftyp carries the avif brand, so the MOVIE paths need an isom
    // twin — a HEIF still is null on the video surfaces by design.)
    val isomFtyp = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(16).put("ftyp".getBytes("ISO-8859-1"))
        .put("isom".getBytes("ISO-8859-1")).putInt(0)
      bb.array()
    }
    val hostileMovie = isomFtyp ++ nested("moov", 100000, Array.emptyByteArray)
    assert(Multimodal.videoGpsPresent(hostileMovie) == java.lang.Boolean.FALSE)
    assert(Multimodal.scrubVideoGps(hostileMovie) eq hostileMovie)
    assert(Multimodal.exifGpsPresent(
      ftyp ++ nested("meta", 100000, Array.emptyByteArray)) != null,
      "the HEIF EXIF item walk exhausts the cap, not the stack")
    assert(Multimodal.mediaModality(hostileMovie) == "video",
      "a hostile movie still classifies by its magic, depth-capped")
    // an AVI-form RIFF around the same hostile LIST chain (hostileAvi
    // itself carries a movi form type, which is not an AVI magic)
    val hostileAviForm = {
      val body = "AVI ".getBytes("ISO-8859-1") ++
        java.util.Arrays.copyOfRange(hostileAvi, 12, hostileAvi.length)
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("ISO-8859-1")).putInt(body.length).put(body)
      bb.array()
    }
    assert(Multimodal.mediaModality(hostileAviForm) == "video")
    assert(Multimodal.videoKeyframes(hostileAviForm) == null)
    // hostile Matroska tag tree: 100k nested Tags containers
    def nestedEbml(id: Array[Byte], depth: Int): Array[Byte] = {
      var cur = Array.emptyByteArray
      var i = 0
      while (i < depth) {
        val size = Array((0x10 | (cur.length >> 24)).toByte,
          ((cur.length >> 16) & 0xff).toByte,
          ((cur.length >> 8) & 0xff).toByte, (cur.length & 0xff).toByte)
        cur = id ++ size ++ cur
        i += 1
      }
      Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
        0x80.toByte) ++ cur
    }
    val hostileTags = nestedEbml(
      Array(0x12.toByte, 0x54.toByte, 0xC3.toByte, 0x67.toByte), 100000)
    assert(Multimodal.webmTags(hostileTags).isDefined ||
      Multimodal.webmTags(hostileTags).isEmpty) // no throw is the contract
    // the round-14 walkers hold the same contract: muxed timed text,
    // chapters (all three carriers), and the declared-language walk
    // all exhaust the cap, never the stack
    assert(Multimodal.mp4SubtitleCues(hostileMovie).isEmpty)
    assert(Multimodal.mp4Chapters(hostileMovie).isEmpty)
    assert(Multimodal.declaredTextLang(hostileMovie) == null)
    val hostileChapters = nestedEbml(
      Array(0x10.toByte, 0x43.toByte, 0xA7.toByte, 0x70.toByte), 100000)
    assert(Multimodal.webmChapters(hostileChapters).isEmpty)
    val hostileAttachments = nestedEbml(
      Array(0x19.toByte, 0x41.toByte, 0xA4.toByte, 0x69.toByte), 100000)
    assert(Multimodal.webmAttachedPicture(hostileAttachments).isEmpty)
    assert(Multimodal.declaredTextLang(hostileTags) == null)
    // a hostile cue stream through the DataFrame dispatch: the scan
    // completes with zero cue rows, the task never dies
    val cueScan = Multimodal.subtitleCues(Seq(
      (1L, hostileMovie), (2L, hostileTags)).toDF("doc_id", "content"))
      .count()
    assert(cueScan == 0L)
    assert(Multimodal.mediaChapters(Seq(
      (1L, hostileMovie), (2L, hostileChapters)).toDF("doc_id", "content"))
      .count() == 0L)
  }

  test("mp4VideoTrack: python-built fixture cross-check — multi-run stsc, stss, duration") {
    // independent muxer (scripts/make_mp4_fixture.py): 5 samples of
    // sizes 11..15 split 3+2 across two chunks, sync = {1,4},
    // timescale 600 / duration 125 ticks
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixtures/synthetic.mp4").toURI))
    val t = Multimodal.mp4VideoTrack(bytes).get
    assert(t.codec == "fake" && t.timescale == 600)
    assert(t.durationMs == 125L * 1000 / 600)
    assert(t.sampleSizes.toSeq == Seq(11, 12, 13, 14, 15))
    assert(t.syncSamples.toSeq == Seq(1, 4))
    // offsets must resolve the two-chunk layout exactly: the fixture
    // plants sample i as byte 0x40+i repeated, so range reads prove it
    val keys = Multimodal.mp4KeyframeSamples(bytes)
    assert(keys.map(_._1) == Seq(0, 3), s"0-based sync sample indices: $keys")
    assert(keys(0)._2.toSeq == Array.fill(11)(0x40.toByte).toSeq)
    assert(keys(1)._2.toSeq == Array.fill(14)(0x43.toByte).toSeq)
    // the metadata-only synthetic (no stbl) parses as no track
    assert(Multimodal.mp4VideoTrack(Multimodal.syntheticMp4(16, 16, 500)).isEmpty)
    assert(Multimodal.videoKeyframes(bytes).intValue() == 2)
    // mdhd duration 0xFFFFFFFF is the spec's "unknown" sentinel
    // (fragmented/live-muxed) — it must surface as 0, never as a bogus
    // ~82-day division result (frameDurationTicks = -1 on one frame
    // writes exactly the all-ones u32)
    val unknownDur = Multimodal.syntheticMjpegMp4(
      Seq(Multimodal.renderJpeg(8, 8, (_, _) => 0x808080)),
      frameDurationTicks = -1)
    assert(Multimodal.mp4VideoTrack(unknownDur).get.durationMs == 0L,
      "all-ones mdhd duration must read as unknown (0)")
  }

  test("videoFrames: MJPEG-in-MP4 keyframes decode through the image stack") {
    val f = (0 until 4).map(i => Multimodal.renderJpeg(16, 16,
      (_, _) => ((60 * i) << 16) | ((60 * i) << 8) | (60 * i)))
    val mp4 = Multimodal.syntheticMjpegMp4(f, syncEvery = 2)
    val rows = Multimodal.videoFrames(
      Seq((1L, mp4)).toDF("id", "content"))
      .select("frame_idx", "frame").collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(rows.keySet == Set(0, 2), s"keyframes only (sync every 2nd): ${rows.keySet}")
    // the extracted samples are the EXACT jpeg bytes -> decodable
    assert(rows(0).toSeq == f(0).toSeq && rows(2).toSeq == f(2).toSeq)
    val stats = Multimodal.imageStats(
      Seq((1L, rows(2))).toDF("id", "content"))
      .select("stats.ok", "stats.width").collect().head
    assert(stats.getBoolean(0) && stats.getInt(1) == 16)
  }

  test("mediaCard diffs release-to-release with dataCardDiff, like the text card") {
    val png = Multimodal.renderPng(8, 8, (_, _) => (128 << 8) | 255)
    val junk = "not media".getBytes("UTF-8")
    val yesterday = Multimodal.mediaCard(
      Seq(("s", png), ("s", junk)).toDF("source", "content"), "content", "source")
    val today = Multimodal.mediaCard(
      Seq(("s", png), ("s", png)).toDF("source", "content"), "content", "source")
    val diff = graft.operators.Curation.dataCardDiff(yesterday, today, "source")
      .collect().map(r => r.getString(1) ->
        ((Option(r.getAs[java.lang.Double]("old_value")),
          Option(r.getAs[java.lang.Double]("new_value")),
          Option(r.getAs[java.lang.Double]("delta"))))).toMap
    assert(diff("pct_image") == ((Some(0.5), Some(1.0), Some(0.5))),
      s"the decodable-rate drift is the headline: $diff")
    assert(diff("pct_undecodable") == ((Some(0.5), Some(0.0), Some(-0.5))))
    assert(diff("n_assets")._3 == Some(0.0))
  }

  test("incremental media card: batch folds equal one-shot state; card matches batch mediaCard") {
    val M = Multimodal
    def gray(v: Int) = (v << 16) | (v << 8) | v
    // all four modalities plus junk, spread across two sources AND two
    // batches so the fold has to merge real partial state per group
    val png1 = M.renderPng(20, 10, (_, _) => gray(100))
    val png2 = M.renderPng(40, 10, (x, _) => if (x % 8 < 4) 0 else gray(255))
    val wav = M.renderWav(8000, 1,
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 9000 else -9000))
    val mp3 = M.syntheticMp3(verId = 3, srIdx = 2, channels = 1,
      frames = (0 until 5).map(_ => (9, Seq(100, 101))))
    val mp4 = M.syntheticMjpegMp4(
      Seq(M.renderJpeg(16, 8, (_, _) => gray(99))), syncEvery = 1)
    val junk = "nope".getBytes("UTF-8")
    val b1 = Seq(("s1", png1), ("s1", wav), ("s2", mp3), ("s2", junk))
      .toDF("source", "content")
    val b2 = Seq(("s1", png2), ("s1", mp4), ("s2", wav))
      .toDF("source", "content")
    val twoStep = java.nio.file.Files.createTempDirectory("graft-mcard2").toString
    M.upsertMediaCardState(spark, twoStep, b1, "content", "source")
    M.upsertMediaCardState(spark, twoStep, b2, "content", "source")
    val oneShot = java.nio.file.Files.createTempDirectory("graft-mcard1").toString
    M.upsertMediaCardState(spark, oneShot, b1.unionByName(b2), "content", "source")
    def cardOf(path: String) =
      M.mediaCardFromState(spark, path, "source").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          Option(r.getAs[java.lang.Double]("value"))).toMap
    val (inc, full) = (cardOf(twoStep), cardOf(oneShot))
    assert(inc == full, "two folds must equal the one-shot state exactly")
    // every monoid is exact (no sketch), so the state card must match
    // the batch card on EVERY metric including the null pattern
    val batch = M.mediaCard(b1.unionByName(b2), "content", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getAs[java.lang.Double]("value"))).toMap
    assert(batch.keySet == inc.keySet, "same (group, metric) surface")
    batch.foreach { case (k, v) =>
      (v, inc(k)) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-9, s"$k: batch $a vs state $b")
        case (a, b) => assert(a == b, s"$k: null pattern drifted: $a vs $b")
      }
    }
    // the decode work per ingest is O(batch): a third fold of ONE row
    // updates only its group's row in state
    val before = cardOf(twoStep)(("s2", "n_assets"))
    M.upsertMediaCardState(spark, twoStep,
      Seq(("s2", png1)).toDF("source", "content"), "content", "source")
    val after = cardOf(twoStep)
    assert(after(("s2", "n_assets")) == before.map(_ + 1))
    assert(after(("s1", "n_assets")) == inc(("s1", "n_assets")))
  }

  test("media-card state predating the coverage metrics is refused, not silently zero-filled") {
    val M = Multimodal
    val png = M.renderPng(4, 4, (_, _) => 0x334455)
    val batch = Seq(("s", png)).toDF("source", "content")
    val path = java.nio.file.Files.createTempDirectory("graft-mcardold").toString
    // simulate a pre-round-13 state: the same monoid minus the new sums
    val old = M.mediaCardSignals(batch, "content", "source")
      .drop("nhtext", "nhart", "nhlyr", "nhsub")
    graft.operators.Scale.writeVersionedState(spark, path, old)
    val e = intercept[IllegalArgumentException] {
      M.upsertMediaCardState(spark, path, batch, "content", "source")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // the merge guard fires on direct folds too
    val e2 = intercept[IllegalArgumentException] {
      M.mergeMediaCardSignals(old)
    }
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
  }

  test("videoFrames: MJPEG AVI walk yields real JPEG frames the image stack decodes") {
    val f0 = Multimodal.renderJpeg(16, 8, (_, _) => (200 << 16) | (50 << 8) | 25)
    val f1 = Multimodal.renderJpeg(16, 8, (_, _) => (25 << 16) | (200 << 8) | 50)
    val f2 = Multimodal.renderJpeg(32, 16, (_, _) => (99 << 16) | (99 << 8) | 99)
    val avi = Multimodal.syntheticMjpegAvi(Seq(f0, f1, f2))
    val df = Seq(
      (1L, avi),
      (2L, Multimodal.renderPng(4, 4, (_, _) => 0)), // a still: zero frames
      (3L, "junk".getBytes)
    ).toDF("id", "content")

    val frames = Multimodal.videoFrames(df)
    val idx = frames.collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("frame_idx")))).toSeq.sorted
    assert(idx == Seq((1L, 0), (1L, 1), (1L, 2)), s"got $idx")

    // extracted frames are intact JPEGs: the EXISTING image stack
    // consumes them unchanged (per-frame dims + lossy-tolerant means)
    val stats = Multimodal.imageStats(frames, contentCol = "frame").collect()
      .map(r => r.getInt(r.fieldIndex("frame_idx")) ->
        r.getAs[org.apache.spark.sql.Row]("stats")).toMap
    assert(stats(0).getAs[Boolean]("ok") && stats(0).getAs[Int]("width") == 16)
    assert(stats(2).getAs[Int]("width") == 32 && stats(2).getAs[Int]("height") == 16)
    assert(math.abs(stats(1).getAs[Double]("avg_g") - 200.0 / 255.0) < 0.02)
    assert(math.abs(stats(0).getAs[Double]("avg_r") - 200.0 / 255.0) < 0.02)

    // stride sampling: every 2nd frame
    val sampled = Multimodal.videoFrames(df, stride = 2).collect()
      .map(r => r.getInt(r.fieldIndex("frame_idx"))).toSeq.sorted
    assert(sampled == Seq(0, 2))

    // truncated container stops cleanly at the damage, keeps intact frames
    val cut = java.util.Arrays.copyOfRange(avi, 0, avi.length - f2.length / 2)
    assert(Multimodal.aviMjpegFrames(cut).length == 2)
  }

  test("EXIF orientation: rotated camera JPEG reports display dims, means invariant") {
    // splice a minimal EXIF APP1 (TIFF IFD with the orientation tag)
    // right after SOI of a real encoded JPEG — what a camera writes
    def withExif(jpeg: Array[Byte], orientation: Int, littleEndian: Boolean): Array[Byte] = {
      val tiff =
        if (littleEndian)
          Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0, // header, IFD at 8
            1, 0, // one entry
            0x12, 0x01, 3, 0, 1, 0, 0, 0, orientation.toByte, 0, 0, 0,
            0, 0, 0, 0) // no next IFD
        else
          Array[Byte]('M', 'M', 0, 42, 0, 0, 0, 8,
            0, 1,
            0x01, 0x12, 0, 3, 0, 0, 0, 1, 0, orientation.toByte, 0, 0,
            0, 0, 0, 0)
      val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
      val len = payload.length + 2
      val app1 = Array[Byte](0xFF.toByte, 0xE1.toByte,
        ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
      jpeg.take(2) ++ app1 ++ jpeg.drop(2)
    }
    // 24x8 gradient: rotation-variant raster, rotation-invariant means
    val base = Multimodal.renderJpeg(24, 8, (x, y) => (x * 10 << 16) | (y * 30 << 8) | 40)
    assert(Multimodal.exifOrientation(base) == 1, "no APP1 -> normal")
    assert(Multimodal.exifOrientation(withExif(base, 6, littleEndian = false)) == 6)
    assert(Multimodal.exifOrientation(withExif(base, 8, littleEndian = true)) == 8)

    val df = Seq(
      (1L, base),
      (2L, withExif(base, 6, littleEndian = false)), // rotate 90 CW
      (3L, withExif(base, 3, littleEndian = true))   // rotate 180
    ).toDF("id", "content")
    val out = Multimodal.imageStats(df).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("stats")).toMap
    assert(out(1L).getAs[Int]("width") == 24 && out(1L).getAs[Int]("height") == 8)
    // orientation 6 swaps the reported axes to display orientation
    assert(out(2L).getAs[Boolean]("ok"))
    assert(out(2L).getAs[Int]("width") == 8 && out(2L).getAs[Int]("height") == 24)
    // orientation 3 keeps them
    assert(out(3L).getAs[Int]("width") == 24 && out(3L).getAs[Int]("height") == 8)
    // rotation permutes pixels, so channel means match EXACTLY (same
    // decoded raster, no re-encode)
    for (ch <- Seq("avg_r", "avg_g", "avg_b"); id <- Seq(2L, 3L))
      assert(out(id).getAs[Double](ch) == out(1L).getAs[Double](ch),
        s"$ch must be rotation-invariant for id=$id")

    // the full 8-case remap is self-consistent: applying orientation 3
    // twice is the identity
    val img = Multimodal.decodePixels(base).get
    val twice = Multimodal.applyExifOrientation(
      Multimodal.applyExifOrientation(img, 3), 3)
    val coords = for (x <- 0 until img.getWidth; y <- 0 until img.getHeight) yield (x, y)
    assert(coords.forall { case (x, y) => img.getRGB(x, y) == twice.getRGB(x, y) })
  }

  test("resizeImages: real downscale, aspect preserved, never upscales, EXIF-aware") {
    val df = Seq(
      (1L, Multimodal.renderPng(64, 32, (_, _) => (10 << 16) | (200 << 8) | 90)),
      (2L, Multimodal.renderPng(8, 4, (_, _) => 0xFF0000)), // under the bound
      (3L, "junk".getBytes)
    ).toDF("id", "content")
    val out = Multimodal.resizeImages(df, maxSide = 16).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("resized")).toMap
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Int]("width") == 16 && out(1L).getAs[Int]("height") == 8)
    // output is a REAL decodable PNG of the target size; a solid-color
    // source stays exactly solid through bilinear + lossless encode
    val reDecoded = Multimodal.decodePixels(out(1L).getAs[Array[Byte]]("content")).get
    assert(reDecoded.getWidth == 16 && reDecoded.getHeight == 8)
    assert(reDecoded.getRGB(5, 5) == ((0xFF << 24) | (10 << 16) | (200 << 8) | 90))
    // smaller-than-bound images are not upscaled
    assert(out(2L).getAs[Int]("width") == 8 && out(2L).getAs[Int]("height") == 4)
    assert(!out(3L).getAs[Boolean]("ok"))
  }

  test("pixel features: content-derived for real rasters, hash fallback elsewhere") {
    val red = (_: Int, _: Int) => 0xFF0000
    val blue = (_: Int, _: Int) => 0x0000FF
    val df = Seq(
      (1L, Multimodal.renderPng(16, 16, red)),
      (2L, Multimodal.renderJpeg(16, 16, red)), // same CONTENT, different bytes+codec
      (3L, Multimodal.renderPng(16, 16, blue)),
      (4L, "just some bytes".getBytes)
    ).toDF("id", "content")
    val feats = Multimodal.extractFeatures(df, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("features").toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    // the PNG and JPEG of the SAME image are near-identical in feature
    // space even though their bytes differ completely — content-derived,
    // not byte-derived (the hash stub would put them nowhere near)
    assert(cos(feats(1L), feats(2L)) > 0.999)
    // a different image is measurably farther than a re-encoding
    assert(cos(feats(1L), feats(3L)) < cos(feats(1L), feats(2L)))
    // non-image bytes still get the deterministic unit-norm hash vector
    val n4 = math.sqrt(feats(4L).map(x => x.toDouble * x).sum)
    assert(math.abs(n4 - 1.0) < 1e-5)
  }

  test("frame sampling and resize plans") {
    val vids = Seq(("v1", 10), ("v2", 1)).toDF("vid", "n_frames")
    val frames = Multimodal.sampleFrames(vids, "vid", "n_frames", stride = 4)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(frames == Set(("v1", 0), ("v1", 4), ("v1", 8), ("v2", 0)))
    val decoded = Multimodal.decode(Seq((1L, "x".getBytes)).toDF("id", "content"))
    val planned = Multimodal.resizePlan(decoded, maxSide = 256).head()
    assert(planned.getAs[Int]("target_w") <= 256 || planned.getAs[Int]("target_h") <= 256)
  }

  test("qualityReport: predicates, null handling, uniqueness and FK orphans") {
    import org.apache.spark.sql.functions._
    val child = Seq(
      (1L, Some(10.0), "a"), (2L, Some(-5.0), "a"),
      (3L, None, "b"), (3L, Some(7.0), null))
      .toDF("id", "amount", "ref")
    val parent = Seq("a").toDF("pid")
    val got = Guards.qualityReport(child,
        checks = Seq(
          "amount_positive" -> (col("amount") > 0),   // -5 fails, null fails
          "ref_present" -> col("ref").isNotNull),
        uniqueKeys = Seq("id_unique" -> Seq("id")),
        foreignKeys = Seq(("ref_fk", "ref", parent, "pid")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "amount_positive" -> 2L, // NULL counts as a violation
      "ref_present" -> 1L,
      "id_unique" -> 1L,       // id 3 appears twice
      "ref_fk" -> 1L))         // "b" has no parent; null ref is skipped
  }

  // -------------------------------------------------- image text

  test("imageText: EXIF ImageDescription, JPEG COM, PNG tEXt/iTXt, GIF comment, TIFF IFD0") {
    val M = Multimodal
    val jpeg = M.renderJpeg(8, 8, (_, _) => 0x808080)
    // EXIF ImageDescription, out-of-line ASCII value
    assert(M.imageTextFacts(M.jpegWithExifDescription(jpeg, "a long caption"))
      .contains((null, "a long caption", null, "jpeg")))
    // inline value: count <= 4 bytes with the NUL lives in the slot
    assert(M.imageTextFacts(M.jpegWithExifDescription(jpeg, "abc"))
      .contains((null, "abc", null, "jpeg")))
    // COM segment; both COM and EXIF can coexist on one JPEG
    assert(M.imageTextFacts(M.jpegWithComment(jpeg, "from the scanner"))
      .contains((null, null, "from the scanner", "jpeg")))
    assert(M.imageTextFacts(M.jpegWithComment(
      M.jpegWithExifDescription(jpeg, "caption"), "comment"))
      .contains((null, "caption", "comment", "jpeg")))
    // PNG tEXt registered keywords; unknown keywords ignored;
    // iTXt carries UTF-8 (the charset difference is the point)
    val png = M.renderPng(4, 4, (_, _) => 0x112233)
    assert(M.imageTextFacts(M.pngWithText(png, Seq(
      ("Title", "T", false), ("Description", "D", false),
      ("Comment", "C", false), ("Software", "ignored", false))))
      .contains((("T", "D", "C", "png"))))
    assert(M.imageTextFacts(M.pngWithText(png,
      Seq(("Description", "Süße Wölkchen ☁", true))))
      .contains((null, "Süße Wölkchen ☁", null, "png")))
    // PNG eXIf fallback: no textual chunk, but the 2017 EXIF chunk
    // has no ImageDescription either in the GPS fixture -> None
    assert(M.imageTextFacts(M.pngWithExif(png, gps = true)).isEmpty)
    // GIF comment extension; TIFF is its own EXIF block
    assert(M.imageTextFacts(M.gifWithComment(M.syntheticGif(Seq(0)), "meme"))
      .contains((null, null, "meme", "gif")))
    assert(M.imageTextFacts(M.syntheticTiff(2, 2, (_, _) => 0xFFFFFF,
      description = "archival scan")).contains((null, "archival scan", null, "tiff")))
    // untexted and non-image rows
    assert(M.imageTextFacts(png).isEmpty)
    assert(M.imageTextFacts(jpeg).isEmpty)
    assert(M.imageTextFacts("junk junk junk".getBytes("UTF-8")).isEmpty)
    // decode still works THROUGH the spliced text chunks
    assert(M.decodePixels(M.pngWithText(png, Seq(("Title", "t", false)))).isDefined)
    assert(M.decodePixels(M.gifWithComment(M.syntheticGif(Seq(0)), "c")).isDefined)
  }

  test("imageText: hostile chunk lengths and truncation degrade to None, never throw") {
    val M = Multimodal
    val png = M.renderPng(4, 4, (_, _) => 0x112233)
    // PNG chunk length larger than the file: walk ends clean
    val huge = M.pngWithText(png, Seq(("Title", "t", false)))
    val hugeLen = huge.clone()
    hugeLen(8 + 25) = 0x7F.toByte // tEXt length u32 -> ~2 GB
    assert(M.imageTextFacts(hugeLen).isEmpty)
    // tEXt with no NUL separator: skipped
    val noNul = M.pngWithText(png, Seq(("NoSeparatorJustText", "", false)))
    assert(M.imageTextFacts(noNul).isEmpty ||
      M.imageTextFacts(noNul).exists(_._1 == null))
    // GIF comment whose sub-block chain runs off the file: truncation
    val gif = M.gifWithComment(M.syntheticGif(Seq(0)), "abc")
    val cut = java.util.Arrays.copyOfRange(gif, 0, 22) // mid-comment
    assert(M.imageTextFacts(cut).isEmpty)
    // a 100k-sub-block comment chain is capped, not buffered unbounded
    val big = new java.io.ByteArrayOutputStream()
    big.write(java.util.Arrays.copyOfRange(gif, 0, 19)) // up to the ext intro
    big.write(Array[Byte](0x21, 0xFE.toByte))
    var k = 0
    while (k < 100000) { big.write(255); big.write(new Array[Byte](255)); k += 1 }
    big.write(0)
    val capped = M.imageTextFacts(big.toByteArray)
    // cap + at most one 255-byte sub-block of overshoot
    assert(capped.isEmpty || capped.get._3.length < 65536 + 256)
    // imageTags dataframe surface: all-null struct for untexted rows
    val out = Multimodal.imageTags(Seq(
      (1L, M.pngWithText(png, Seq(("Description", "d", false)))),
      (2L, png),
      (3L, "junk".getBytes("UTF-8"))
    ).toDF("id", "content")).select("id", "itext.description", "itext.text_format")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    assert(out(1L) == ((Some("d"), Some("png"))))
    assert(out(2L) == ((None, None)))
    assert(out(3L) == ((None, None)))
  }

  test("imageText: XMP dc:title/dc:description from JPEG APP1 and PNG iTXt packets") {
    val M = Multimodal
    val jpeg = M.renderJpeg(8, 8, (_, _) => 0x808080)
    val png = M.renderPng(4, 4, (_, _) => 0x112233)
    val xml = M.xmpPacketXml("Tî<le & co", "Desc > here")
    // entity round-trip both ways through the escape/unescape pair
    assert(M.xmpProperty(xml, "dc:title") == "Tî<le & co")
    assert(M.xmpProperty(xml, "dc:description") == "Desc > here")
    assert(M.xmpProperty(xml, "dc:rights") == null)
    assert(M.xmpProperty(null, "dc:title") == null)
    assert(M.imageTextFacts(M.jpegWithXmp(jpeg, xml))
      .contains(("Tî<le & co", "Desc > here", null, "jpeg")))
    assert(M.imageTextFacts(M.pngWithText(png,
      Seq(("XML:com.adobe.xmp", M.xmpPacketXml(null, "png xmp"), true))))
      .contains((null, "png xmp", null, "png")))
    // precedence: EXIF ImageDescription beats XMP
    assert(M.imageTextFacts(M.jpegWithXmp(
      M.jpegWithExifDescription(jpeg, "exif wins"), xml))
      .exists(_._2 == "exif wins"))
    // malformed XMP (no rdf:li) degrades to absent, not garbage
    assert(M.imageTextFacts(M.jpegWithXmp(jpeg, "<dc:title>bare</dc:title>"))
      .isEmpty)
  }

  // -------------------------------------------------- subtitles

  test("subtitleCues: SRT and WebVTT cues, markup strip, hostile text degrades clean") {
    val M = Multimodal
    val srt = "1\n00:00:01,000 --> 00:00:02,000\nA <b>bold</b> line\n\n" +
      "2\n00:00:03,000 --> 00:00:02,000\nend before start: dropped\n\n" +
      "bad --> stamps here\nskipped\n\n" +
      "3\n01:02:03,450 --> 01:02:04,000\nLast\n"
    val Some(("srt", cues)) = M.parseSubtitles(srt)
    assert(cues.map(c => (c.idx, c.startMs, c.endMs, c.text)) == Seq(
      (1, 1000L, 2000L, "A bold line"),
      (2, 3723450L, 3724000L, "Last")))
    val vtt = "WEBVTT - with a title\n\nSTYLE\n::cue { color: red }\n\n" +
      "00:05.000 --> 00:06.000 line:0\n<c.yellow>tinted</c> words\n"
    val Some(("vtt", v)) = M.parseSubtitles(vtt)
    assert(v.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((5000L, 6000L, "tinted words")))
    // hostile: unclosed tag swallows to end of line, never throws;
    // no parseable cue at all -> None
    assert(M.parseSubtitles("WEBVTT\n\n00:01.000 --> 00:02.000\n<unclosed")
      .isEmpty)
    assert(M.parseSubtitles("not a subtitle file").isEmpty)
    assert(M.parseSubtitles(null).isEmpty)
    assert(M.parseSubtitles("").isEmpty)
    // dataframe surface over a BINARY column with a BOM'd file
    val out = M.subtitleCues(Seq(
      (1L, ("﻿" + srt).getBytes("UTF-8")),
      (2L, "junk".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
    assert(out.length == 2 && out.forall(_.getLong(0) == 1L))
    // string-column form parses identically
    val out2 = M.subtitleCues(Seq((7L, vtt)).toDF("doc_id", "content"))
      .select("text").collect().map(_.getString(0)).toSeq
    assert(out2 == Seq("tinted words"))
  }

  test("subtitleTrackCount: BMFF hdlr types and Matroska TrackType 0x11") {
    val M = Multimodal
    val plain = M.syntheticMp4(32, 16, 500L)
    assert(M.subtitleTrackCount(plain) == 0)
    val withSub = M.withMp4SubtitleTrack(plain)
    assert(M.subtitleTrackCount(withSub) == 1)
    assert(M.mp4TrackHandlers(withSub).contains("sbtl"))
    // the spliced trak must not break the existing video-track read
    // (DecodedSchema order: ok is field 6, width field 0)
    assert(M.decodeMp4(withSub).getBoolean(6))
    assert(M.decodeMp4(withSub).getInt(0) == 32)
    // a 64-bit largesize `mdat` ahead of `moov` (the layout of long
    // recordings) is read like any other box, not as the walk's end
    val ftypLen = java.nio.ByteBuffer.wrap(plain, 0, 4).getInt
    val largeMdat = java.nio.ByteBuffer.allocate(16 + 5).putInt(1)
      .put("mdat".getBytes("ISO-8859-1")).putLong(16L + 5).array()
    val mdatFirst = plain.take(ftypLen) ++ largeMdat ++ plain.drop(ftypLen)
    assert(M.decodeMp4(mdatFirst).getBoolean(6))
    assert(M.decodeMp4(mdatFirst).getInt(0) == 32)
    val webm = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 100L, subtitleTracks = 2)
    assert(M.subtitleTrackCount(webm) == 2)
    // subtitle TrackEntries must not perturb the A/V facts
    val info = M.webmInfo(webm).get
    assert(info.kind == "video" && info.subtitleTracks == 2)
    assert(M.webmInfo(M.syntheticWebm("audio", channels = 1,
      sampleRate = 8000)).get.subtitleTracks == 0)
    // non-container bytes: unknown, not zero
    assert(M.subtitleTrackCount("junk junk junk junk".getBytes("UTF-8")) == null)
    assert(M.subtitleTrackCount(M.renderPng(2, 2, (_, _) => 0)) == null)
  }

  test("webmSubtitleCues: muxed S_TEXT blocks extract; A/V blocks and hostiles don't") {
    val M = Multimodal
    val movie = M.syntheticWebm("video", width = 16, height = 8,
      durationMs = 5000L, subtitleTracks = 1,
      subCues = Seq((100L, 300L, "a"), (2000L, 2400L, "bé")))
    val Some(("webm", "eng", cues)) = M.webmSubtitleCues(movie)
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((100L, 300L, "a"), (2000L, 2400L, "bé")))
    // the muxed cluster must not perturb the header facts
    val info = M.webmInfo(movie).get
    assert(info.kind == "video" && info.subtitleTracks == 1 &&
      info.durationMs == 5000L)
    assert(M.subtitleTrackCount(movie) == 1)
    // no subtitle track -> no cues, even with clusters absent
    assert(M.webmSubtitleCues(M.syntheticWebm("video", width = 4,
      height = 4, durationMs = 100L)).isEmpty)
    assert(M.webmSubtitleCues("junk".getBytes("UTF-8")).isEmpty)
    // truncation: keep the intact prefix, never throw
    val cut = java.util.Arrays.copyOfRange(movie, 0, movie.length - 6)
    val trunc = M.webmSubtitleCues(cut)
    assert(trunc.isEmpty || trunc.get._3.length <= 2)
    // dataframe dispatch: the SAME operator reads sidecars and movies
    val out = M.subtitleCues(Seq(
      (1L, movie),
      (2L, "WEBVTT\n\n00:01.000 --> 00:02.000\nvtt line\n".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(5))).toSet
    assert(out == Set((1L, "webm", "a"), (1L, "webm", "bé"),
      (2L, "vtt", "vtt line")))
  }

  test("imageProvenance: Make/Model/DateTimeOriginal via the Exif sub-IFD; scrub-safe") {
    val M = Multimodal
    val jpeg = M.renderJpeg(8, 8, (_, _) => 0x606060)
    val withProv = M.jpegWithExifProvenance(jpeg, "Maker X", "Model Y",
      "2020:12:31 23:59:59")
    assert(M.imageProvenance(withProv)
      .contains(("Maker X", "Model Y", "2020:12:31 23:59:59")))
    // plain or EXIF-less rows: None
    assert(M.imageProvenance(jpeg).isEmpty)
    assert(M.imageProvenance(M.renderPng(4, 4, (_, _) => 1)).isEmpty)
    assert(M.imageProvenance("junk junk junk".getBytes("UTF-8")).isEmpty)
    // a GPS scrub must not disturb provenance (no GPS here: identity)
    assert(M.imageProvenance(M.scrubGps(withProv))
      .contains(("Maker X", "Model Y", "2020:12:31 23:59:59")))
    // TIFF carrier: ImageDescription fixture has no provenance fields
    assert(M.imageProvenance(M.syntheticTiff(2, 2, (_, _) => 0,
      description = "not provenance")).isEmpty)
    // dataframe surface
    val out = M.imageProvenanceTags(Seq(
      (1L, withProv), (2L, jpeg)
    ).toDF("id", "content")).select("id", "prov.make")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("Maker X"), 2L -> None))
  }

  test("parseLrc: timed lyrics lines, repeated stamps, metadata tags, hostiles") {
    val M = Multimodal
    val Some(cues) = M.parseLrc(
      "[ti:x]\n[00:01.50]a\n[00:10][00:03.5]b\njust text\n")
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) == Seq(
      (1500L, 3500L, "a"), (3500L, 10000L, "b"), (10000L, 10000L, "b")))
    assert(M.parseLrc("[ar:meta only]\nno stamps").isEmpty)
    assert(M.parseLrc(null).isEmpty)
    assert(M.parseLrc("[99999:99]over").isEmpty ||
      M.parseLrc("[99999:99]over").isDefined) // whatever parses, no throw
    // dispatch: the SAME operator, format 'lrc'
    val out = M.subtitleCues(Seq((1L, "[00:02]la la".getBytes("UTF-8")))
      .toDF("doc_id", "content")).collect()
    assert(out.length == 1 && out.head.getString(1) == "lrc" &&
      out.head.getLong(3) == 2000L)
  }

  test("formatSrt/formatVtt: parse-format round trip is exact") {
    val M = Multimodal
    val cues = Seq(
      M.SubCue(1, 0L, 1234L, "first"),
      M.SubCue(2, 61000L, 61500L, "two\nlines"),
      M.SubCue(3, 3600000L + 120000L + 3450L, 3600000L + 120000L + 4000L,
        "hored éh"))
    val Some(("srt", back)) = M.parseSubtitles(M.formatSrt(cues))
    assert(back == cues)
    val Some(("vtt", backV)) = M.parseSubtitles(M.formatVtt(cues))
    assert(backV == cues)
    // the muxed path round-trips through the sidecar writer too
    val movie = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 5000L, subtitleTracks = 1,
      subCues = Seq((100L, 300L, "a"), (2000L, 2400L, "b")))
    val Some((_, _, muxed)) = M.webmSubtitleCues(movie)
    val Some((_, reparsed)) = M.parseSubtitles(M.formatSrt(muxed))
    assert(reparsed.map(c => (c.startMs, c.endMs, c.text)) ==
      muxed.map(c => (c.startMs, c.endMs, c.text)))
    // a blank line INSIDE cue text would terminate the cue block on
    // reparse — the writers collapse newline runs so nothing is lost
    val blanky = Seq(M.SubCue(1, 0L, 500L, "before\n\n\nafter"))
    val Some(("srt", b1)) = M.parseSubtitles(M.formatSrt(blanky))
    assert(b1.head.text == "before\nafter")
    val Some(("vtt", b2)) = M.parseSubtitles(M.formatVtt(blanky))
    assert(b2.head.text == "before\nafter")
  }

  test("WebVTT voice spans: speaker captured, stripped from text, round-trips") {
    val M = Multimodal
    val vtt = "WEBVTT\n\n00:00:01.000 --> 00:00:02.000\n" +
      "<v Ayana>good morning\n\n00:00:03.000 --> 00:00:04.500\n" +
      "<v.loud.fast Ben Okafor>hey!\nsecond line\n\n" +
      "00:00:05.000 --> 00:00:06.000\nno voice here\n"
    val Some(("vtt", cues)) = M.parseSubtitles(vtt)
    assert(cues.map(_.speaker) == Seq("Ayana", "Ben Okafor", null))
    // the tag itself never leaks into the text
    assert(cues.map(_.text) ==
      Seq("good morning", "hey!\nsecond line", "no voice here"))
    // writer round trip preserves attribution
    val Some(("vtt", back)) = M.parseSubtitles(M.formatVtt(cues))
    assert(back == cues)
    // SRT carries no voice convention: speaker never set there
    val srt = "1\n00:00:01,000 --> 00:00:02,000\n<v Sam>line\n"
    assert(M.parseSubtitles(srt).get._2.head.speaker == null)
    // hostile shapes: empty name, bare <v>, not-a-voice tag — null
    Seq("<v >x", "<v>x", "<vx y>z").foreach { t =>
      val doc = s"WEBVTT\n\n00:00:01.000 --> 00:00:02.000\n$t\n"
      assert(M.parseSubtitles(doc).get._2.head.speaker == null, t)
    }
    // an unclosed tag swallows the line (the markup strip's standing
    // rule) — no cue, no speaker, no throw
    assert(M.parseSubtitles(
      "WEBVTT\n\n00:00:01.000 --> 00:00:02.000\n<v Unclosed line\n").isEmpty)
    // MUXED wvtt payloads follow the same rule: speaker captured,
    // markup stripped — the sidecar and the MP4 carrier agree
    import spark.implicits._
    val mp4 = M.syntheticMp4TimedText(
      Seq(M.renderJpeg(8, 8, (_, _) => 0x404040)),
      Seq((0L, 500L, "<v Zoe>bonjour"), (1000L, 1500L, "plain")),
      codec = "wvtt", lang = "fre")
    val rows = M.subtitleCuesByTrack(Seq((1L, mp4)).toDF("doc_id", "content"))
      .orderBy("cue_idx").collect()
    assert(rows.map(r => (r.getString(6), r.getString(8))).toSeq ==
      Seq(("bonjour", "Zoe"), ("plain", null)))
  }

  test("formatLrc/formatAss: the new sidecar writers round-trip") {
    val M = Multimodal
    // LRC shape: ends = next start, last zero-length (what parseLrc
    // and id3SyltCues emit)
    val lrcCues = Seq(
      M.SubCue(1, 1345L, 20100L, "première ligne"),
      M.SubCue(2, 20100L, 20100L, "last"))
    val Some(backL) = M.parseLrc(M.formatLrc(lrcCues))
    assert(backL == lrcCues)
    // ASS: centisecond-aligned cues with newlines and commas survive
    val assCues = Seq(
      M.SubCue(1, 0L, 1500L, "two\nlines, with comma"),
      M.SubCue(2, 3600000L + 62430L, 3600000L + 63000L, "hour mark"))
    val Some(backA) = M.parseAss(M.formatAss(assCues))
    assert(backA == assCues)
    // the muxed SYLT path exports losslessly through the LRC writer
    val timed = Seq((900L, "a"), (2100L, "bé"))
    val mp3 = M.syntheticId3(4, "T", "A", "B", syncedLyrics = timed) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    val Some(sylt) = M.id3SyltCues(mp3)
    assert(M.parseLrc(M.formatLrc(sylt)).contains(sylt))
  }

  test("parseLrc: enhanced millisecond fractions scale by length") {
    val M = Multimodal
    val Some(cues) = M.parseLrc("[00:12.345]ms line\n[00:20.1]tenths\n")
    assert(cues.map(c => (c.startMs, c.text)) ==
      Seq((12345L, "ms line"), (20100L, "tenths")))
  }

  test("parseAss: [Events] Dialogue lines, override strip, out-of-order sort, hostiles") {
    val M = Multimodal
    val ass = "[Script Info]\nScriptType: v4.00+\n\n[V4+ Styles]\n" +
      "Format: Name, Fontname\nStyle: Default,Arial\n\n[Events]\n" +
      "Format: Layer, Start, End, Style, Name, MarginL, MarginR, MarginV, Effect, Text\n" +
      "Dialogue: 0,0:00:05.50,0:00:07.00,Default,,0,0,0,,{\\i1}styled{\\i0} text\n" +
      "Dialogue: 0,0:00:01.00,0:00:02.25,Default,,0,0,0,,first\\Nsecond, with comma\n" +
      "Comment: 0,0:00:09.00,0:00:10.00,Default,,0,0,0,,not a dialogue\n"
    val Some(cues) = M.parseAss(ass)
    assert(cues.map(c => (c.idx, c.startMs, c.endMs, c.text)) == Seq(
      (1, 1000L, 2250L, "first\nsecond, with comma"),
      (2, 5500L, 7000L, "styled text")))
    // SSA v4 (Marked= field) shares the 10-field shape
    val ssa = "[Events]\nDialogue: Marked=0,0:00:03.10,0:00:04.00," +
      "Default,,0,0,0,,ssa line\n"
    assert(M.parseAss(ssa).get.head.text == "ssa line")
    assert(M.parseAss("[Events]\nno dialogue").isEmpty)
    assert(M.parseAss(null).isEmpty)
    assert(M.parseAss("Dialogue: but no events section").isEmpty)
    // dispatch: format tag 'ass' through the DataFrame surface
    val out = M.subtitleCues(Seq((1L, ass.getBytes("UTF-8")))
      .toDF("doc_id", "content")).collect()
    assert(out.length == 2 && out.forall(_.getString(1) == "ass"))
    assert(out.head.getLong(3) == 1000L)
  }

  test("mp4SubtitleCues: muxed tx3g/wvtt/stpp tracks extract; detection agrees") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(16, 8, (_, _) => gray(60)),
      M.renderJpeg(16, 8, (_, _) => gray(200)))
    val wanted = Seq((500L, 1500L, "hello"), (2000L, 2800L, "wörld two"))
    // tx3g: u16-length samples, gaps as empty samples
    val tx = M.syntheticMp4TimedText(frames, wanted, codec = "tx3g")
    val Some(("tx3g", c1)) = M.mp4SubtitleCues(tx)
    assert(c1.map(c => (c.startMs, c.endMs, c.text)) == wanted)
    // detection half agrees with extraction: 1 declared track
    assert(M.subtitleTrackCount(tx) == 1)
    // the video track is undisturbed (keyframes still read)
    assert(M.videoKeyframes(tx) == 1)
    // wvtt: vttc(payl) samples, vtte gaps
    val wv = M.syntheticMp4TimedText(frames, wanted, codec = "wvtt")
    val Some(("wvtt", c2)) = M.mp4SubtitleCues(wv)
    assert(c2.map(c => (c.startMs, c.endMs, c.text)) == wanted)
    // stpp: one TTML sample, per-<p> absolute times
    val tt = M.syntheticMp4TimedText(frames, wanted, codec = "stpp")
    val Some(("stpp", c3)) = M.mp4SubtitleCues(tt)
    assert(c3.map(c => (c.startMs, c.endMs, c.text)) == wanted)
    // a caption-less movie: detection 0, extraction None
    val plain = M.syntheticMjpegMp4(frames)
    assert(M.mp4SubtitleCues(plain).isEmpty)
    assert(M.subtitleTrackCount(plain) == 0)
    assert(M.mp4SubtitleCues("junk".getBytes("UTF-8")).isEmpty)
    // truncation: never throws, yields None or an intact prefix
    val cut = java.util.Arrays.copyOfRange(tx, 0, tx.length / 2)
    val t = M.mp4SubtitleCues(cut)
    assert(t.isEmpty || t.get._2.length <= wanted.length)
    // DataFrame dispatch: MP4 movies and WebM movies and sidecars in
    // ONE operator, each labeled by its container's format tag
    val out = M.subtitleCues(Seq(
      (1L, tx),
      (2L, "1\n00:00:01,000 --> 00:00:02,000\nsidecar\n".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(5))).toSet
    assert(out == Set((1L, "tx3g", "hello"), (1L, "tx3g", "wörld two"),
      (2L, "srt", "sidecar")))
  }

  test("id3SyltCues: synchronized lyrics in all three tag versions; USLT fallback") {
    val M = Multimodal
    val timed = Seq((1200L, "line one"), (3400L, "line twö"))
    def mp3(v: Int, synced: Seq[(Long, String)]) =
      M.syntheticId3(v, "T", "A", "B", syncedLyrics = synced) ++
        M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    // v2.4 UTF-8 SYLT; cues end at the next cue's start (LRC rule)
    val Some(c4) = M.id3SyltCues(mp3(4, timed))
    assert(c4.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((1200L, 3400L, "line one"), (3400L, 3400L, "line twö")))
    // v2.3 UTF-16 SYLT and v2.2 SLT read identically
    assert(M.id3SyltCues(mp3(3, timed)).get.map(_.text) ==
      Seq("line one", "line twö"))
    assert(M.id3SyltCues(mp3(2, timed)).get.map(_.text) ==
      Seq("line one", "line twö"))
    // out-of-order entries sort by time
    val Some(oo) = M.id3SyltCues(mp3(4, Seq((5000L, "late"), (100L, "early"))))
    assert(oo.map(_.text) == Seq("early", "late"))
    // no SYLT -> None; junk/no tag -> None
    assert(M.id3SyltCues(mp3(4, Nil)).isEmpty)
    assert(M.id3SyltCues("junk".getBytes("UTF-8")).isEmpty)
    // audioLyricsText falls back USLT -> SYLT (de-timed, joined)
    assert(M.audioLyricsText(mp3(4, timed)).contains("line one\nline twö"))
    // ...but an explicit USLT wins over SYLT
    val both = M.syntheticId3(4, "T", "A", "B", lyrics = Some("plain"),
      syncedLyrics = timed) ++ M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    assert(M.audioLyricsText(both).contains("plain"))
    // subtitleCues dispatch: synced lyrics are timed cues, tag 'sylt'
    val out = M.subtitleCues(Seq((1L, mp3(3, timed)))
      .toDF("doc_id", "content")).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getString(5))).toSeq
    assert(out == Seq(("sylt", 1200L, "line one"), ("sylt", 3400L, "line twö")))
  }

  test("declaredTextLang: mdhd code, Matroska Language element + eng default, SYLT field, hostiles") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(50)))
    val cues = Seq((0L, 500L, "x"))
    // BMFF: the text trak's packed mdhd language
    assert(M.declaredTextLang(M.syntheticMp4TimedText(frames, cues,
      lang = "deu")) == "deu")
    assert(M.declaredTextLang(M.syntheticMp4TimedText(frames, cues)) == "eng")
    // a caption-less movie declares nothing
    assert(M.declaredTextLang(M.syntheticMjpegMp4(frames)) == null)
    // Matroska: explicit Language element; absent = spec default eng
    assert(M.declaredTextLang(M.syntheticWebm("video", width = 8,
      height = 8, durationMs = 100L, subtitleTracks = 1,
      subLang = Some("fre"))) == "fre")
    assert(M.declaredTextLang(M.syntheticWebm("video", width = 8,
      height = 8, durationMs = 100L, subtitleTracks = 1)) == "eng")
    assert(M.declaredTextLang(M.syntheticWebm("video", width = 8,
      height = 8, durationMs = 100L)) == null)
    // ID3: the SYLT frame's language field
    assert(M.declaredTextLang(M.syntheticId3(4, "T", "A", "B",
      syncedLyrics = Seq((100L, "l"))) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))) == "eng")
    assert(M.declaredTextLang(M.syntheticId3(4, "T", "A", "B") ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))) == null)
    // hostiles: junk and truncation degrade to null, never throw
    assert(M.declaredTextLang("junk junk junk junk".getBytes("UTF-8")) == null)
    val tx = M.syntheticMp4TimedText(frames, cues)
    assert(M.declaredTextLang(
      java.util.Arrays.copyOfRange(tx, 0, tx.length / 3)) == null)
    // the cue surface carries it per row, computed in the same scan
    val out = M.subtitleCues(Seq(
      (1L, M.syntheticMp4TimedText(frames, cues, lang = "spa")),
      (2L, "1\n00:00:01,000 --> 00:00:02,000\nside\n".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(6))).toMap
    assert(out == Map(1L -> Some("spa"), 2L -> None))
  }

  test("mediaLinkHash64 + coverArtLinkCorpus: art links audio to its image across all four carriers") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val logo = M.renderPng(32, 16, (x, _) => if (x < 16) gray(30) else gray(220))
    val other = M.renderPng(32, 16, (x, _) => if (x % 4 == 0) gray(220) else gray(30))
    val art = ("image/png", logo)
    val mp3 = M.syntheticId3(4, "T", "A", "B", apic = Some(art)) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    val flac = M.syntheticFlacTagged(48000, 2, 16, 4800L, "T", "A", "B",
      picture = Some(art))
    val m4a = M.syntheticM4aTagged(2, 44100, 4410L, "T", "A", "B",
      cover = Some(art))
    val mka = M.syntheticWebm("audio", channels = 2, sampleRate = 48000,
      durationMs = 100L, codec = "A_OPUS", docType = "matroska",
      attachedArt = Some(art))
    // the link hash of every art carrier IS the image's own hash
    val own = M.mediaLinkHash64(logo)
    assert(own == M.dhash64(logo))
    for ((b, label) <- Seq((mp3, "mp3"), (flac, "flac"), (m4a, "m4a"),
      (mka, "mka")))
      assert(M.mediaLinkHash64(b) == own, s"$label art must hash as the image")
    // art-less audio and junk: no link identity
    assert(M.mediaLinkHash64(M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))) == null)
    assert(M.mediaLinkHash64("junk".getBytes("UTF-8")) == null)
    // corpus form: one class spanning the image + all four carriers;
    // the unrelated image stays unlinked
    val df = Seq((1L, logo), (2L, mp3), (3L, flac), (4L, m4a), (5L, mka),
      (6L, other)).toDF("id", "content")
    val out = graft.operators.Dedup.coverArtLinkCorpus(df, "id", "content")
      .select("id", "dup_class", "keep").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(2)))).toMap
    assert((1L to 5L).forall(i => out(i)._1.contains(1L)))
    assert(out(1L)._2 && !(2L to 5L).exists(i => out(i)._2))
    assert(out(6L)._1.isEmpty && out(6L)._2)
  }

  test("exifThumbnail: IFD1 preview bytes; the edit-kept-EXIF linking signal") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val thumb = M.renderJpeg(8, 4, (_, _) => gray(120))
    val original = M.jpegWithThumbnail(
      M.renderJpeg(32, 16, (x, _) => gray(x * 7)), thumb)
    // an "edit": different pixels, the SAME copied EXIF block
    val edited = M.jpegWithThumbnail(
      M.renderJpeg(32, 16, (_, y) => gray(y * 11)), thumb)
    assert(M.exifThumbnail(original).toSeq == thumb.toSeq)
    assert(M.exifThumbnail(edited).toSeq == thumb.toSeq)
    // the main raster still decodes through the spliced APP1; the
    // two edits differ perceptually but share thumbnail identity
    assert(M.decodePixels(original).get.getWidth == 32)
    assert(M.dhash64(original) != M.dhash64(edited))
    assert(M.dhash64(M.exifThumbnail(original)) ==
      M.dhash64(M.exifThumbnail(edited)))
    // no IFD1, no EXIF, junk: null, never throw
    assert(M.exifThumbnail(M.renderJpeg(8, 8, (_, _) => 0)) == null)
    assert(M.exifThumbnail(M.jpegWithExifProvenance(
      M.renderJpeg(8, 8, (_, _) => 0), "Make X", "Model Y",
      "2020:01:01 00:00:00")) == null, "IFD0-only EXIF has no thumbnail")
    assert(M.exifThumbnail("junk".getBytes("UTF-8")) == null)
    // truncated thumbnail range degrades to null
    val cut = java.util.Arrays.copyOfRange(original, 0, original.length / 4)
    assert(M.exifThumbnail(cut) == null || M.exifThumbnail(cut).nonEmpty)
    // a GPS scrub leaves the (GPS-free) block untouched
    assert(M.scrubGps(original) eq original)
    // DataFrame surface
    val out = M.exifThumbnails(Seq((1L, original), (2L, edited),
      (3L, M.renderJpeg(4, 4, (_, _) => 0))).toDF("id", "content"))
      // xxhash64 hashes a NULL input to its seed — gate on presence
      .select(col("id"), when(col("thumb").isNotNull,
        xxhash64(col("thumb"))).as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined && out(1L) == out(2L) && out(3L).isEmpty)
  }

  test("mediaChapters: ID3 CHAP, Matroska Chapters, Nero chpl — one dispatch") {
    val M = Multimodal
    val chaps = Seq((0L, 60000L, "Intro"), (60000L, 180000L, "Thème deux"))
    // ID3 CHAP (v2.4 UTF-8 embedded TIT2, v2.3 UTF-16)
    def mp3(v: Int) = M.syntheticId3(v, "T", "A", "B", chapters = chaps) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    for (v <- Seq(3, 4)) {
      val Some(c) = M.id3Chapters(mp3(v))
      assert(c.map(x => (x.startMs, x.endMs, x.text)) == chaps, s"v2.$v")
    }
    // chapterless tag: None
    assert(M.id3Chapters(M.syntheticId3(4, "T", "A", "B") ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))).isEmpty)
    // Matroska Chapters (ns scale); the walk carries its DocType
    val mka = M.syntheticWebm("audio", channels = 2, sampleRate = 48000,
      durationMs = 200000L, codec = "A_OPUS", docType = "matroska",
      chapters = chaps)
    val Some(("matroska", wc)) = M.webmChapters(mka)
    assert(wc.map(x => (x.startMs, x.endMs, x.text)) == chaps)
    assert(M.webmChapters(M.syntheticWebm("audio", channels = 1,
      sampleRate = 8000)).isEmpty)
    // Nero chpl: no end times — next start, last zero-length
    val m4b = M.mp4WithChpl(M.syntheticM4a(2, 44100, 441000L),
      Seq((0L, "One"), (60000L, "Two")))
    val Some(nc) = M.mp4Chapters(m4b)
    assert(nc.map(x => (x.startMs, x.endMs, x.text)) ==
      Seq((0L, 60000L, "One"), (60000L, 60000L, "Two")))
    assert(M.mp4Chapters(M.syntheticM4a(2, 44100, 441000L)).isEmpty)
    // hostiles: junk and truncation never throw
    assert(M.id3Chapters("junk".getBytes("UTF-8")).isEmpty)
    val cut = java.util.Arrays.copyOfRange(m4b, 0, m4b.length - 10)
    val t = M.mp4Chapters(cut)
    assert(t.isEmpty || t.get.length <= 2)
    // DataFrame dispatch with format tags
    val out = M.mediaChapters(Seq(
      (1L, mp3(4)), (2L, mka), (3L, m4b), (4L, "junk".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "id3"), (2L, "matroska"), (3L, "chpl")))
    // CTOC: the toc's child order IS the listing — chp0 (starts at
    // 60 s) leads because the toc says so, start-sort be damned
    val flipped = Seq((60000L, 150000L, "Bonus"), (0L, 60000L, "Open"))
    def tocMp3(order: Seq[Int]) =
      M.syntheticId3(4, "T", "A", "B", chapters = flipped,
        ctocOrder = order) ++
        M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    assert(M.id3Chapters(tocMp3(Seq(0, 1))).get.map(_.text) ==
      Seq("Bonus", "Open"))
    assert(M.id3Chapters(tocMp3(Seq(1, 0))).get.map(_.text) ==
      Seq("Open", "Bonus"))
    // a toc listing only SOME chapters: listed lead, rest append in
    // start order; unknown ids in the toc are ignored
    assert(M.id3Chapters(tocMp3(Seq(0))).get.map(_.text) ==
      Seq("Bonus", "Open"))
    // no CTOC: start-sort fallback unchanged
    assert(M.id3Chapters(M.syntheticId3(4, "T", "A", "B",
      chapters = flipped) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))).get.map(_.text) ==
      Seq("Open", "Bonus"))
  }

  test("review sweep: minf data-handler hdlr, nested ChapterAtoms, fraction scaling, SHORT thumb length, long LRC, binary gate") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    // 1) a REAL QuickTime layout carries a SECOND hdlr under minf
    //    (the data handler) — it must not clobber the track's role
    import graft.operators.Bmff.box
    val base = M.syntheticMp4TimedText(
      Seq(M.renderJpeg(8, 8, (_, _) => gray(70))),
      Seq((0L, 500L, "qt line")))
    // splice a minf-level data hdlr ('alis') into the TEXT trak by
    // rebuilding: find the text trak's minf and prepend the hdlr
    val dhlr = box("hdlr",
      new Array[Byte](8) ++ "alis".getBytes("ISO-8859-1") ++ new Array[Byte](12))
    val spliced = {
      // the text trak is the LAST trak; its minf is the last minf box
      val s = new String(base.map(b => (b & 0xff).toChar))
      val at = s.lastIndexOf("minf")
      val minfStart = at - 4
      val oldSize = java.nio.ByteBuffer.wrap(base, minfStart, 4).getInt
      val out = new java.io.ByteArrayOutputStream()
      out.write(base, 0, minfStart)
      val bb = java.nio.ByteBuffer.allocate(4)
      bb.putInt(oldSize + dhlr.length)
      out.write(bb.array(), 0, 4)
      out.write(base, minfStart + 4, 4) // 'minf'
      out.write(dhlr, 0, dhlr.length)
      out.write(base, minfStart + 8, base.length - minfStart - 8)
      // fix the enclosing mdia/trak/... sizes? The minf is the last
      // box of mdia which is the last of trak which is the last of
      // moov which is the last top-level box — grow each enclosing
      // size by dhlr.length
      val grown = out.toByteArray
      val str = new String(grown.map(b => (b & 0xff).toChar))
      for (marker <- Seq("moov", "trak", "mdia")) {
        val i = str.lastIndexOf(marker)
        val old = java.nio.ByteBuffer.wrap(grown, i - 4, 4).getInt
        java.nio.ByteBuffer.wrap(grown, i - 4, 4).putInt(old + dhlr.length)
      }
      grown
    }
    assert(M.mp4SubtitleCues(spliced).exists(_._2.head.text == "qt line"),
      "a minf data-handler hdlr must not clobber the mdia hdlr's role")
    assert(M.subtitleTrackCount(spliced) == 1)
    // 2) nested ChapterAtoms: parent AND child both commit, once each
    //    (hand-built: an atom containing a sub-atom)
    import graft.operators.Ebml.{el, uintEl}
    def disp(t: String): Array[Byte] =
      el(0x80L, el(0x85L, t.getBytes("UTF-8")))
    val child = el(0xB6L, uintEl(0x91L, 10000L * 1000000L) ++
      uintEl(0x92L, 20000L * 1000000L) ++ disp("child"))
    val parentAtom = el(0xB6L, uintEl(0x91L, 0L) ++
      uintEl(0x92L, 60000L * 1000000L) ++ disp("parent") ++ child)
    val nestedMkv =
      el(0x1A45DFA3L, el(0x4282L, "matroska".getBytes("ISO-8859-1"))) ++
      el(0x18538067L, el(0x1043A770L, el(0x45B9L, parentAtom)))
    val Some((_, nested)) = M.webmChapters(nestedMkv)
    assert(nested.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((0L, 60000L, "parent"), (10000L, 20000L, "child")))
    // 3) 1-digit ASS fraction is tenths, not centiseconds
    val assOne = "[Events]\nDialogue: 0,0:00:01.5,0:00:03.5,D,,0,0,0,,x\n"
    assert(M.parseAss(assOne).get.head.startMs == 1500L)
    // 4) SHORT-typed IFD1 length entries still resolve the thumbnail
    //    (the builder writes LONG; patch the type fields to SHORT —
    //    values < 65536 keep the same big-endian u16 at the value
    //    field's START only if re-encoded, so rebuild by hand)
    val thumb = M.renderJpeg(8, 4, (_, _) => gray(99))
    val shortTyped = {
      val ifd1Off = 8 + 2 + 4
      val thumbOff = ifd1Off + 2 + 12 * 2 + 4
      val bb = java.nio.ByteBuffer.allocate(thumbOff + thumb.length)
      bb.put('M'.toByte).put('M'.toByte).putShort(42).putInt(8)
      bb.putShort(0).putInt(ifd1Off)
      bb.putShort(2)
      bb.putShort(0x0201.toShort).putShort(4).putInt(1).putInt(thumbOff)
      // length as SHORT: 2-byte value at the value field's start
      bb.putShort(0x0202.toShort).putShort(3).putInt(1)
        .putShort(thumb.length.toShort).putShort(0)
      bb.putInt(0)
      bb.put(thumb)
      val payload = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ bb.array()
      val app1 = Array(0xFF.toByte, 0xE1.toByte,
        (((payload.length + 2) >> 8) & 0xff).toByte,
        ((payload.length + 2) & 0xff).toByte) ++ payload
      val j = M.renderJpeg(8, 8, (_, _) => gray(50))
      j.take(2) ++ app1 ++ j.drop(2)
    }
    assert(M.exifThumbnail(shortTyped).toSeq == thumb.toSeq)
    // 5) 4-digit LRC minutes round-trip (a 17-hour audiobook)
    val longCue = Seq(M.SubCue(1, 60000000L + 1500L, 60000000L + 1500L, "late"))
    assert(M.parseLrc(M.formatLrc(longCue)).contains(longCue))
    // 6) the binary gate is NEGATIVE: a typeset-heavy ASS whose
    //    [Events] starts past 8 KiB still parses; a JPEG is skipped
    val bigAss = "[Script Info]\nScriptType: v4.00+\n\n[V4+ Styles]\n" +
      (1 to 300).map(i => s"Style: S$i,Arial,20,&H00FFFFFF,&H000000FF")
        .mkString("\n") +
      "\n\n[Events]\nDialogue: 0,0:00:01.00,0:00:02.00,D,,0,0,0,,deep line\n"
    assert(bigAss.indexOf("[Events]") > 8192, "fixture must bury the marker")
    val out = M.subtitleCues(Seq(
      (1L, bigAss.getBytes("UTF-8")),
      (2L, M.renderJpeg(16, 16, (_, _) => gray(80)))) // known magic: skipped
      .toDF("doc_id", "content")).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L &&
      out.head.getString(5) == "deep line")
    assert(M.knownBinaryMagic(M.renderJpeg(4, 4, (_, _) => 0)))
    assert(!M.knownBinaryMagic("1\n00:00:01,000 --> x".getBytes("UTF-8")))
  }

  test("QuickTime chapter track: tref/chap text tracks are chapters, never subtitles") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(60)))
    val chaps = Seq((0L, 60000L, "Part one"), (60000L, 90000L, "Part two"))
    val qt = M.syntheticMp4TimedText(frames, chaps, asQtChapters = true)
    // detection: NOT a subtitle track
    assert(M.subtitleTrackCount(qt) == 0)
    // extraction: no cues from the subtitle path...
    assert(M.mp4SubtitleCues(qt).isEmpty)
    assert(M.subtitleCues(Seq((1L, qt)).toDF("doc_id", "content"))
      .count() == 0L)
    // ...the chapter path reads it, with REAL end times from stts
    val Some(qc) = M.mp4QtChapterCues(qt)
    assert(qc.map(c => (c.startMs, c.endMs, c.text)) == chaps)
    val chapRows = M.mediaChapters(Seq((1L, qt)).toDF("doc_id", "content"))
      .collect().map(r => (r.getString(1), r.getLong(3), r.getString(5))).toSeq
    assert(chapRows == Seq(("chap", 0L, "Part one"), ("chap", 60000L, "Part two")))
    // a NON-chapter text track keeps its subtitle role (tkhd present,
    // no tref): detection 1, extraction through the subtitle path
    val subs = M.syntheticMp4TimedText(frames, chaps)
    assert(M.subtitleTrackCount(subs) == 1)
    assert(M.mp4SubtitleCues(subs).isDefined)
    assert(M.mp4QtChapterCues(subs).isEmpty)
    // the declared language makes the same role split: a chapter
    // track supplies NO declared dialog language
    assert(M.declaredTextLang(qt) == null)
    assert(M.declaredTextLang(subs) == "eng")
  }

  test("MediaFlag: unknown kernel names fail at construction, not in codegen") {
    intercept[IllegalArgumentException] {
      Multimodal.MediaFlag(
        org.apache.spark.sql.catalyst.expressions.Literal(
          Array[Byte](1, 2, 3)), "evilKernel(); //")
    }
  }

  // -------------------------------------------------- lyrics

  test("audioLyrics: USLT v2.3/v2.4, M4A ©lyr, FLAC/Opus/Vorbis LYRICS field") {
    val M = Multimodal
    def mp3(tag: Array[Byte]): Array[Byte] =
      tag ++ M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    assert(M.audioLyricsText(mp3(M.syntheticId3(4, "T", "A", "B",
      lyrics = Some("utf8 line")))).contains("utf8 line"))
    assert(M.audioLyricsText(mp3(M.syntheticId3(3, "T", "A", "B",
      lyrics = Some("ütf16 ÿ line")))).contains("ütf16 ÿ line"))
    assert(M.audioLyricsText(mp3(M.syntheticId3(2, "T", "A", "B",
      lyrics = Some("v22 ULT")))).contains("v22 ULT"))
    // whole-tag v2.3 unsync over a UTF-16 USLT (BOMs carry 0xFF)
    assert(M.audioLyricsText(mp3(M.syntheticId3(3, "T", "A", "B",
      unsync = true, lyrics = Some("unsync ÿ vers")))).contains("unsync ÿ vers"))
    assert(M.audioLyricsText(M.syntheticM4aTagged(2, 44100, 441000L,
      "T", "A", "B", lyricsTag = Some("ilst vers"))).contains("ilst vers"))
    assert(M.audioLyricsText(M.syntheticFlacTagged(8000, 1, 16, 100L,
      "T", "A", "B", lyrics = Some("flac vers"))).contains("flac vers"))
    assert(M.audioLyricsText(M.syntheticOpusTagged(2, 120, 48000, 48120L,
      "T", "A", "B", lyrics = Some("opus vers"))).contains("opus vers"))
    assert(M.audioLyricsText(M.syntheticVorbis(2, 44100, 88200L,
      tags = Some(("T", "A", "B")), lyrics = Some("ogg vers")))
      .contains("ogg vers"))
    // untagged carriers and junk: None
    assert(M.audioLyricsText(mp3(M.syntheticId3(4, "T", "A", "B"))).isEmpty)
    assert(M.audioLyricsText(M.syntheticFlacTagged(8000, 1, 16, 100L,
      "T", "A", "B")).isEmpty)
    assert(M.audioLyricsText("junk".getBytes("UTF-8")).isEmpty)
    // lyrics coexist with art and text tags in one ID3 tag
    val art = M.renderPng(4, 4, (_, _) => 0x101010)
    val full = mp3(M.syntheticId3(3, "T", "A", "B",
      apic = Some(("image/png", art)), lyrics = Some("tout ensemble")))
    assert(M.id3v2Tags(full).contains(("T", "A", "B", "id3v2.3")))
    assert(M.embeddedArtBytes(full).exists(p => java.util.Arrays.equals(p._2, art)))
    assert(M.audioLyricsText(full).contains("tout ensemble"))
    // dataframe surface
    val out = M.audioLyrics(Seq(
      (1L, M.syntheticFlacTagged(8000, 1, 16, 100L, "T", "A", "B",
        lyrics = Some("l"))),
      (2L, "junk".getBytes("UTF-8"))
    ).toDF("id", "content")).select("id", "lyrics")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out == Map(1L -> Some("l"), 2L -> None))
  }

  test("ico: PNG-payload favicons decode via the pixel stack; DIB payloads report header facts") {
    val M = Multimodal
    def gray(v: Int) = (v << 16) | (v << 8) | v
    val logo = M.renderPng(32, 32, (x, _) => if (x < 16) gray(250) else gray(5))
    val small = M.renderPng(16, 16, (_, _) => gray(99))
    val ico = M.syntheticIco(Seq(small, logo))
    assert(M.icoInfo(ico).contains((2, 32, 32)))
    assert(M.icoPngPayload(ico).exists(java.util.Arrays.equals(_, logo)))
    // the pixel stack decodes the LARGEST entry: cross-format identity
    val img = M.decodePixels(ico).get
    assert(img.getWidth == 32 && M.dhash64(ico) == M.dhash64(logo))
    assert(M.mediaModality(ico) == "image")
    assert(M.sniffMime(ico) == "image/vnd.microsoft.icon")
    // DIB payload: header facts only (dims from the directory)
    val dib = {
      val payload = Array.fill[Byte](40)(7) // not PNG magic
      val out = java.nio.ByteBuffer.allocate(6 + 16 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.putShort(0).putShort(1).putShort(1)
        .put(48.toByte).put(48.toByte).put(0.toByte).put(0.toByte)
        .putShort(1).putShort(32).putInt(payload.length).putInt(6 + 16)
        .put(payload)
      out.array()
    }
    assert(M.icoInfo(dib).contains((1, 48, 48)))
    assert(M.icoPngPayload(dib).isEmpty)
    assert(M.decodePixels(dib).isEmpty)
    val st = M.imageStats(Seq((1L, dib)).toDF("id", "content"))
      .select("stats.width", "stats.ok").head()
    assert(st.getInt(0) == 48 && st.getBoolean(1))
    // hostile: an entry whose offset/size runs off the file ends it
    val evil = ico.clone()
    evil(6 + 11) = 0x7F.toByte // first entry's size u32 HIGH byte -> ~2 GB
    assert(M.icoInfo(evil).isEmpty && M.decodePixels(evil).isEmpty)
    assert(M.icoInfo("junk junk junk junk junk".getBytes("UTF-8")).isEmpty)
    // audio walkers reject the ICO magic outright (the BMP lesson)
    assert(M.mpegAudioInfo(ico).isEmpty)
  }

  test("svg + apng: dims, root-tag discipline, animation facts, hostiles degrade") {
    val M = Multimodal
    // width/height with units; stroke-width must NOT match the attr scan
    assert(M.svgInfo(("<svg stroke-width=\"3\" width=\"10px\" height=\"20\">" +
      "</svg>").getBytes("UTF-8")).contains((10, 20)))
    assert(M.svgInfo("<svg viewBox=\"0 0 48.5 16\"/>".getBytes("UTF-8"))
      .contains((49, 16))) // rounded
    // percentage / em dims report nothing (no viewBox)
    assert(M.svgInfo("<svg width=\"100%\" height=\"2em\"/>".getBytes("UTF-8"))
      .isEmpty)
    // only decl/comment/doctype may precede the root tag
    assert(M.svgInfo(("<?xml version=\"1.0\"?><!DOCTYPE svg><!-- x -->" +
      "<svg width=\"5\" height=\"6\"/>").getBytes("UTF-8")).contains((5, 6)))
    assert(M.svgInfo("<div><svg width=\"5\" height=\"6\"/></div>"
      .getBytes("UTF-8")).isEmpty)
    assert(M.svgInfo("plain text mentioning <svg".getBytes("UTF-8")).isEmpty)
    assert(M.mediaModality("<svg width=\"2\" height=\"2\"/>".getBytes("UTF-8"))
      == "image")
    assert(M.sniffMime("<svg width=\"2\" height=\"2\"/><!-- padding -->"
      .getBytes("UTF-8")) == "image/svg+xml")
    // APNG: decode still works THROUGH the spliced animation chunks
    val base = M.renderPng(8, 8, (_, _) => 0x223344)
    val apng = M.pngWithAnimation(base, Seq((1, 2), (3, 10)), plays = 2)
    assert(M.pngAnimationInfo(apng).contains(
      M.GifAnim(2, 500L + 300L, Integer.valueOf(2))))
    assert(M.decodePixels(apng).exists(_.getWidth == 8))
    assert(M.dhash64(apng) == M.dhash64(base),
      "animation chunks must not perturb the perceptual hash")
    assert(M.pngAnimationInfo(base).isEmpty)
    // hostile chunk length ends the walk clean
    val evil = apng.clone()
    evil(8 + 25) = 0x7F.toByte // acTL length u32 -> ~2 GB
    assert(M.pngAnimationInfo(evil).isEmpty)
    // animationInfo: ONE dispatch over GIF / WebP / APNG
    assert(M.animationInfo(apng).isDefined)
    assert(M.animationInfo(M.syntheticGif(Seq(10, 10))).isDefined)
  }

  // -------------------------------------------------- embedded art

  test("embeddedArt: APIC/PIC, FLAC PICTURE, M4A covr extract byte-identical art") {
    val M = Multimodal
    val artPng = M.renderPng(8, 8, (x, y) => if ((x + y) % 2 == 0) 0xFAFAFA else 0x050505)
    val artJpeg = M.renderJpeg(8, 8, (_, _) => 0x606060) // leads 0xFF 0xD8: unsync fodder
    // v2.3 APIC
    val mp3 = M.syntheticId3(3, "T", "A", "B", apic = Some(("image/png", artPng))) ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))
    val Some((m1, a1)) = M.embeddedArtBytes(mp3)
    assert(m1 == "image/png" && java.util.Arrays.equals(a1, artPng))
    assert(M.id3v2Tags(mp3).contains(("T", "A", "B", "id3v2.3")),
      "text tags must survive the APIC frame in the same tag")
    // v2.2 PIC (3-char format)
    val Some((m2, a2)) = M.embeddedArtBytes(
      M.syntheticId3(2, "T", "A", "B", apic = Some(("image/png", artPng))))
    assert(m2 == "image/png" && java.util.Arrays.equals(a2, artPng))
    // v2.4 per-frame unsync over JPEG art (guaranteed 0xFF bytes)
    val Some((m3, a3)) = M.embeddedArtBytes(
      M.syntheticId3(4, "T", "A", "B", unsync = true,
        apic = Some(("image/jpeg", artJpeg))))
    assert(m3 == "image/jpeg" && java.util.Arrays.equals(a3, artJpeg))
    // FLAC PICTURE
    val flac = M.syntheticFlacTagged(48000, 2, 16, 96000L, "T", "A", "B",
      picture = Some(("image/png", artPng)))
    val Some((m4, a4)) = M.embeddedArtBytes(flac)
    assert(m4 == "image/png" && java.util.Arrays.equals(a4, artPng))
    assert(M.flacTags(flac).contains(("T", "A", "B", "flac")),
      "comment block still reads with a picture block after it")
    assert(M.flacStreamInfo(flac).isDefined)
    // M4A covr (type 14 png / 13 jpeg)
    val Some((m5, a5)) = M.embeddedArtBytes(
      M.syntheticM4aTagged(2, 44100, 441000L, "T", "A", "B",
        cover = Some(("image/png", artPng))))
    assert(m5 == "image/png" && java.util.Arrays.equals(a5, artPng))
    val Some((m6, a6)) = M.embeddedArtBytes(
      M.syntheticM4aTagged(2, 44100, 441000L, "T", "A", "B",
        cover = Some(("image/jpeg", artJpeg))))
    assert(m6 == "image/jpeg" && java.util.Arrays.equals(a6, artJpeg))
    // cross-modal identity: extracted art IS an image — the perceptual
    // hash of APIC art equals the standalone image's
    assert(M.dhash64(a1) == M.dhash64(artPng))
    assert(M.decodePixels(a4).isDefined)
    // MKA attachment (the fourth audio container for art)
    val mka = M.syntheticWebm("audio", channels = 2, sampleRate = 48000,
      durationMs = 500L, codec = "A_FLAC",
      attachedArt = Some(("image/png", artPng)))
    val Some((m7, a7)) = M.embeddedArtBytes(mka)
    assert(m7 == "image/png" && java.util.Arrays.equals(a7, artPng))
    // a non-image attachment is not art
    assert(M.webmAttachedPicture(M.syntheticWebm("audio", channels = 1,
      sampleRate = 8000, attachedArt = Some(("text/plain",
        "readme".getBytes("UTF-8"))))).isEmpty)
    // the attachment must not perturb the audio facts
    assert(M.webmInfo(mka).exists(i => i.kind == "audio" && i.channels == 2))
    // none paths
    assert(M.embeddedArtBytes(M.syntheticId3(3, "T", "A", "B") ++
      M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))).isEmpty)
    assert(M.embeddedArtBytes(M.syntheticFlacTagged(48000, 2, 16, 96000L,
      "T", "A", "B")).isEmpty)
    assert(M.embeddedArtBytes("junk".getBytes("UTF-8")).isEmpty)
  }

  test("embeddedArt: python-built fixtures — UTF-16 APIC description, v2.2 PIC, FLAC PICTURE dims, type-0 covr sniff") {
    val M = Multimodal
    def fix(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/fixtures/$name").toURI))
    // every fixture embeds the same independently-encoded 2x2 PNG
    def check(name: String): Array[Byte] = {
      val Some((m, a)) = M.embeddedArtBytes(fix(name))
      assert(m == "image/png", s"$name mime: $m")
      val img = M.decodePixels(a)
      assert(img.isDefined && img.get.getWidth == 2 && img.get.getHeight == 2,
        s"$name art must be a decodable 2x2 PNG")
      a
    }
    val a1 = check("synthetic_apic_v23.mp3") // UTF-16 desc: double-NUL path
    val a2 = check("synthetic_pic_v22.mp3")  // 3-char "PNG" format
    val a3 = check("synthetic_art.flac")     // non-zero dims fields skipped
    val a4 = check("synthetic_covr.m4a")     // data type 0: magic sniffed
    assert(java.util.Arrays.equals(a1, a2) && java.util.Arrays.equals(a2, a3) &&
      java.util.Arrays.equals(a3, a4), "all four carriers yield identical bytes")
    // the exact pixel: python zlib-encoded row 0 px 0 is 0x102030
    assert((a1 ne null) && M.decodePixels(a1).get.getRGB(0, 0) == 0xFF102030)
    // text tags coexist with the art in every carrier
    assert(M.id3v2Tags(fix("synthetic_apic_v23.mp3"))
      .exists(_._1 == "Art Title"))
    assert(M.flacTags(fix("synthetic_art.flac")).exists(_._1 == "Flac Art"))
    assert(M.m4aTags(fix("synthetic_covr.m4a")).exists(_._1 == "Covr Title"))
  }

  test("embeddedArt: hostile payloads degrade to None; dataframe surface nulls out") {
    val M = Multimodal
    val artPng = M.renderPng(4, 4, (_, _) => 0x222222)
    // APIC whose MIME string never terminates: no art, no throw
    val unterminated = M.syntheticId3(3, "T", "A", "B",
      apic = Some(("image/png", artPng)))
    // corrupt the APIC mime NUL: overwrite every 0x00 in the frame header
    // region is fiddly — instead craft a minimal frame by hand
    val frames = Array[Byte]('A', 'P', 'I', 'C', 0, 0, 0, 5, 0, 0,
      0, 'n', 'o', 'n', 'u') // enc + 4 mime chars, no NUL, no data
    val n = frames.length
    val hostile = Array[Byte]('I', 'D', '3', 3, 0, 0,
      ((n >> 21) & 0x7f).toByte, ((n >> 14) & 0x7f).toByte,
      ((n >> 7) & 0x7f).toByte, (n & 0x7f).toByte) ++ frames
    assert(M.embeddedArtBytes(hostile).isEmpty)
    assert(M.embeddedArtBytes(unterminated).isDefined, "sanity: intact tag reads")
    // FLAC picture block with a data length past the block: None
    val flac = M.syntheticFlacTagged(8000, 1, 16, 100L, "T", "A", "B",
      picture = Some(("image/png", artPng)))
    val evil = flac.clone()
    // the PICTURE data-length field sits 4+4+9+4+16 bytes into the block
    // body; corrupting the last header byte of the block length is
    // simpler and equally hostile
    evil(evil.length - artPng.length - 4) = 0x7F.toByte
    assert(M.embeddedArtBytes(evil).isEmpty ||
      M.embeddedArtBytes(evil).exists(_._2.length <= artPng.length))
    // dataframe surface
    val out = M.embeddedArt(Seq(
      (1L, M.syntheticM4aTagged(1, 8000, 800L, "T", "A", "B",
        cover = Some(("image/png", artPng)))),
      (2L, M.syntheticM4a(1, 8000, 800L)),
      (3L, "junk".getBytes("UTF-8"))
    ).toDF("id", "content"))
      .select("id", "art_mime", "art")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getAs[Array[Byte]](2))))).toMap
    assert(out(1L)._1.contains("image/png"))
    assert(java.util.Arrays.equals(out(1L)._2.get, artPng))
    assert(out(2L) == ((None, None)))
    assert(out(3L) == ((None, None)))
  }

  test("parseAss: the [Events] Format line drives field positions") {
    val M = Multimodal
    // SSA v4-style 5-field declaration, Text last — the default
    // 10-field split would misread every line
    val five = "[Events]\n" +
      "Format: Marked, Start, End, Style, Text\n" +
      "Dialogue: Marked=0,0:00:01.00,0:00:02.00,Default,five fields, comma kept\n"
    val Some(c5) = M.parseAss(five)
    assert(c5.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((1000L, 2000L, "five fields, comma kept")))
    // an EXTENDED 11-field variant (extra Actor column before Text)
    val eleven = "[Events]\n" +
      "Format: Layer, Start, End, Style, Name, Actor, MarginL, MarginR, MarginV, Effect, Text\n" +
      "Dialogue: 0,0:00:03.00,0:00:04.50,Default,,who,0,0,0,,extended line\n"
    assert(M.parseAss(eleven).get.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((3000L, 4500L, "extended line")))
    // a Format line in [V4+ Styles] must NOT perturb the Events map
    val styled = "[V4+ Styles]\nFormat: Name, Fontname\n\n[Events]\n" +
      "Format: Start, End, Text\n" +
      "Dialogue: 0:00:05.00,0:00:06.00,three fields\n"
    assert(M.parseAss(styled).get.head.text == "three fields")
    // no Format line: the v4.00+ default 10-field order still parses
    val bare = "[Events]\n" +
      "Dialogue: 0,0:00:08.00,0:00:09.00,Default,,0,0,0,,default order\n"
    assert(M.parseAss(bare).get.head.text == "default order")
  }

  test("parseSubtitles: HLS X-TIMESTAMP-MAP shifts VTT cue times") {
    val M = Multimodal
    // MPEGTS 900000 at 90 kHz = 10 s; LOCAL 0 -> +10000 ms per cue
    val seg = "WEBVTT\nX-TIMESTAMP-MAP=MPEGTS:900000,LOCAL:00:00:00.000\n\n" +
      "00:01.000 --> 00:02.500\nsegment line\n"
    val Some(("vtt", cues)) = M.parseSubtitles(seg)
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((11000L, 12500L, "segment line")))
    // reversed key order inside the header line parses the same
    val rev = "WEBVTT\nX-TIMESTAMP-MAP=LOCAL:00:00:01.000,MPEGTS:180000\n\n" +
      "00:01.000 --> 00:02.000\nrebased\n"
    // 180000/90 = 2000 ms at LOCAL 1000 -> offset +1000
    assert(M.parseSubtitles(rev).get._2.head.startMs == 2000L)
    // an un-mapped file is untouched
    assert(M.parseSubtitles("WEBVTT\n\n00:01.000 --> 00:02.000\nplain\n")
      .get._2.head.startMs == 1000L)
  }

  test("ttmlParaTimes: begin+dur and reversed attribute order") {
    val M = Multimodal
    assert(M.ttmlParaTimes("begin=\"00:00:01.000\" end=\"00:00:02.000\"") ==
      ((1000L, 2000L)))
    // legal TTML: end may lexically precede begin
    assert(M.ttmlParaTimes("end=\"00:00:02.000\" begin=\"00:00:01.000\"") ==
      ((1000L, 2000L)))
    // begin + dur derives the end
    assert(M.ttmlParaTimes("begin=\"1.5s\" dur=\"2s\"") == ((1500L, 3500L)))
    assert(M.ttmlParaTimes("begin=\"00:00:01.000\"") == ((-1L, -1L)))
    assert(M.ttmlParaTimes("dur=\"2s\"") == ((-1L, -1L)))
    // end-to-end: surgically reorder/dur-ify the stpp sample bytes
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(99)))
    val wanted = Seq((500L, 1500L, "tt cue"))
    val tt = M.syntheticMp4TimedText(frames, wanted, codec = "stpp")
    def swapBytes(b: Array[Byte], from: String, to: String): Array[Byte] = {
      require(from.length == to.length, "size-preserving surgery only")
      val hay = new String(b, "ISO-8859-1")
      val at = hay.indexOf(from)
      require(at >= 0, s"fixture text not found: $from")
      val out = b.clone()
      System.arraycopy(to.getBytes("ISO-8859-1"), 0, out, at, to.length)
      out
    }
    // same-length swap: end= -> dur= (1500 end == 1000 dur from 500)
    val durForm = swapBytes(tt, "end=\"00:00:01.500\"", "dur=\"00:00:01.000\"")
    val Some(("stpp", c1)) = M.mp4SubtitleCues(durForm)
    assert(c1.map(c => (c.startMs, c.endMs, c.text)) == wanted)
    // same-length swap: reverse attribute order
    val revForm = swapBytes(tt,
      "begin=\"00:00:00.500\" end=\"00:00:01.500\"",
      "end=\"00:00:01.500\" begin=\"00:00:00.500\"")
    val Some(("stpp", c2)) = M.mp4SubtitleCues(revForm)
    assert(c2.map(c => (c.startMs, c.endMs, c.text)) == wanted)
  }

  test("id3SyltCues: format-1 MPEG-frame timestamps convert on the stream clock") {
    val M = Multimodal
    // MPEG1 Layer III at srIdx 2 (32 kHz): 1152 samples/frame = 36 ms
    val audio = M.syntheticMp3(3, 2, 1,
      Seq((9, Seq(100, 101)), (9, Seq(102, 103))))
    val tagged = M.syntheticId3(4, "T", "A", "B",
      syncedLyrics = Seq((10L, "ten"), (25L, "twenty-five")),
      syltFormat = 1) ++ audio
    val Some(cues) = M.id3SyltCues(tagged)
    assert(cues.map(c => (c.startMs, c.text)) ==
      Seq((360L, "ten"), (900L, "twenty-five")))
    // LRC rule: each cue ends at the next start; last zero-length
    assert(cues.map(_.endMs) == Seq(900L, 900L))
    // a format-1 tag with NO readable audio stream stays None
    assert(M.id3SyltCues(M.syntheticId3(4, "T", "A", "B",
      syncedLyrics = Seq((10L, "x")), syltFormat = 1)).isEmpty)
    // format 2 unaffected
    assert(M.id3SyltCues(M.syntheticId3(4, "T", "A", "B",
      syncedLyrics = Seq((10L, "x"))) ++ audio).get.head.startMs == 10L)
  }

  test("oggEmbeddedPicture: METADATA_BLOCK_PICTURE art in Opus and Vorbis") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val art = M.renderPng(8, 8, (x, y) => if ((x ^ y) % 2 == 0) gray(240) else gray(10))
    val opus = M.syntheticOpusTagged(2, 312, 48000, 96000L, "T", "A", "B",
      picture = Some(("image/png", art)))
    val Some(("image/png", gotO)) = M.oggEmbeddedPicture(opus)
    assert(java.util.Arrays.equals(gotO, art))
    // the shared dispatch reads it too, and tags still parse
    assert(M.embeddedArtBytes(opus).exists(p => java.util.Arrays.equals(p._2, art)))
    assert(M.opusTags(opus).map(_._1).contains("T"))
    val vorb = M.syntheticVorbis(2, 44100, 88200L,
      tags = Some(("T", "A", "B")), picture = Some(("image/jpeg", art)))
    val Some(("image/jpeg", gotV)) = M.oggEmbeddedPicture(vorb)
    assert(java.util.Arrays.equals(gotV, art))
    assert(M.vorbisTags(vorb).map(_._1).contains("T"))
    // art-less Ogg streams and non-Ogg bytes: None
    assert(M.oggEmbeddedPicture(M.syntheticOpusTagged(2, 312, 48000, 96000L,
      "T", "A", "B")).isEmpty)
    assert(M.oggEmbeddedPicture("junk".getBytes("UTF-8")).isEmpty)
    // hostile: a non-base64 field degrades to None, never a throw
    val evil = M.syntheticOpusTagged(2, 312, 48000, 96000L, "T", "A", "B")
    assert(M.embeddedArtBytes(evil).isEmpty)
  }

  test("oggEmbeddedPicture: cover art spanning continued Ogg pages reads whole") {
    val M = Multimodal
    // a 160x160 noise PNG compresses to well over one Ogg page's
    // ~64 KiB payload ceiling once base64-inflated — the tags packet
    // MUST continue across pages (real cover art routinely does)
    val rnd = new scala.util.Random(7)
    val art = M.renderPng(160, 160, (_, _) => rnd.nextInt(1 << 24))
    assert(art.length * 4 / 3 > 255 * 255) // the fixture really spans
    val opus = M.syntheticOpusTagged(2, 312, 48000, 96000L, "T", "A", "B",
      picture = Some(("image/png", art)))
    val Some(("image/png", gotO)) = M.oggEmbeddedPicture(opus)
    assert(java.util.Arrays.equals(gotO, art))
    // tags on the SAME spanning packet still parse
    assert(M.opusTags(opus).map(_._1).contains("T"))
    val vorb = M.syntheticVorbis(2, 44100, 88200L,
      tags = Some(("T", "A", "B")), picture = Some(("image/jpeg", art)))
    val Some(("image/jpeg", gotV)) = M.oggEmbeddedPicture(vorb)
    assert(java.util.Arrays.equals(gotV, art))
    assert(M.vorbisTags(vorb).map(_._1).contains("T"))
    // stream facts survive the continuation pages (granule -1 pages
    // never claim the last-granule read)
    assert(M.vorbisInfo(vorb).map(_._3).contains(88200L))
    // truncation mid-spanning-packet degrades per-row, never throws
    val cut = java.util.Arrays.copyOfRange(opus, 0, 70000)
    assert(M.oggEmbeddedPicture(cut).isEmpty ||
      M.oggEmbeddedPicture(cut).nonEmpty) // no-throw probe
  }

  test("webmSubtitleCues: cues and declared language come from the SAME track") {
    val M = Multimodal
    // track 3 (eng, no cues) + track 4 (fre, carries the dialog):
    // the first track WITH cues wins and stamps its own language
    val movie = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 4000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues2 = Seq((100L, 400L, "bonjour"), (900L, 1300L, "monde")))
    val Some(("webm", "fre", cues)) = M.webmSubtitleCues(movie)
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((100L, 400L, "bonjour"), (900L, 1300L, "monde")))
    // both tracks carry cues: the first DECLARED one wins
    val both = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 4000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues = Seq((50L, 80L, "hello")),
      subCues2 = Seq((100L, 400L, "bonjour")))
    val Some(("webm", "eng", c2)) = M.webmSubtitleCues(both)
    assert(c2.map(_.text) == Seq("hello"))
    // absent Language element = eng (the Matroska spec default)
    val plain = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 4000L, subtitleTracks = 1,
      subCues = Seq((50L, 80L, "x")))
    assert(M.webmSubtitleCues(plain).get._2 == "eng")
    // the dataframe dispatch stamps the per-track language
    val out = M.subtitleCues(Seq((7L, movie)).toDF("doc_id", "content"))
      .select("declared_lang").distinct().collect()
    assert(out.map(_.getString(0)).toSeq == Seq("fre"))
  }

  test("mp4TextTracks: edts/elst presentation offset shifts cue times") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(70)))
    val wanted = Seq((500L, 1500L, "delayed"), (2000L, 2600L, "pair"))
    val delayed = M.syntheticMp4TimedText(frames, wanted, editDelayMs = 700L)
    val Some(("tx3g", cues)) = M.mp4SubtitleCues(delayed)
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((1200L, 2200L, "delayed"), (2700L, 3300L, "pair")))
    // no edit list: unshifted (regression hold)
    val plain = M.syntheticMp4TimedText(frames, wanted)
    assert(M.mp4SubtitleCues(plain).get._2.map(_.startMs) == Seq(500L, 2000L))
    // the declaration-only walk skips cue decode but keeps id/lang
    val (decl, _) = M.mp4TextTracks(delayed, decodeCues = false)
    assert(decl.length == 1 && decl.head.lang == "eng" &&
      decl.head.cues.isEmpty)
    assert(M.subtitleTrackCount(delayed) == 1)
    assert(M.declaredTextLang(delayed) == "eng")
  }

  test("mp4TextTracks: mvhd-less file skips the edit list whole, never one-sided") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(70)))
    val wanted = Seq((500L, 1500L, "delayed"), (2000L, 2600L, "pair"))
    val withEdit = M.syntheticMp4TimedText(frames, wanted, editDelayMs = 700L)
    def u32At(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
    def find(b: Array[Byte], tag: String): Int = {
      val t = tag.getBytes("ISO-8859-1")
      var i = 4
      while (i + 4 <= b.length) {
        if (b(i) == t(0) && b(i + 1) == t(1) && b(i + 2) == t(2) &&
          b(i + 3) == t(3)) return i
        i += 1
      }
      -1
    }
    // give the second (non-empty) elst entry a media_time trim of
    // 200 ms — entry layout after the 4-byte type: ver/flags(4),
    // count(4), entry0 (12), entry1 segDur(4) THEN media_time(4)
    val trimmed = withEdit.clone()
    val elst = find(trimmed, "elst")
    assert(elst > 0)
    val mtOff = elst + 4 + 8 + 12 + 4
    trimmed(mtOff) = 0; trimmed(mtOff + 1) = 0
    trimmed(mtOff + 2) = 0; trimmed(mtOff + 3) = 200.toByte
    // with mvhd: delay 700 − trim 200 = +500 on every cue
    assert(M.mp4SubtitleCues(trimmed).get._2.map(_.startMs) ==
      Seq(1000L, 2500L))
    // strip the mvhd: the delay half becomes unconvertible, so the
    // WHOLE adjustment must be skipped (raw media times), never the
    // trim half alone (which would shift cues 200 ms EARLIER)
    val mvhd = find(trimmed, "mvhd")
    val moov = find(trimmed, "moov")
    assert(mvhd > 0 && moov > 0)
    val mvhdStart = mvhd - 4
    val mvhdSize = u32At(trimmed, mvhdStart)
    val stripped = new Array[Byte](trimmed.length - mvhdSize)
    System.arraycopy(trimmed, 0, stripped, 0, mvhdStart)
    System.arraycopy(trimmed, mvhdStart + mvhdSize, stripped, mvhdStart,
      trimmed.length - mvhdStart - mvhdSize)
    val moovStart = moov - 4
    val newMoovSize = u32At(stripped, moovStart) - mvhdSize
    stripped(moovStart) = (newMoovSize >>> 24).toByte
    stripped(moovStart + 1) = ((newMoovSize >> 16) & 0xff).toByte
    stripped(moovStart + 2) = ((newMoovSize >> 8) & 0xff).toByte
    stripped(moovStart + 3) = (newMoovSize & 0xff).toByte
    assert(M.mp4SubtitleCues(stripped).get._2.map(c => (c.startMs, c.endMs)) ==
      Seq((500L, 1500L), (2000L, 2600L)))
  }

  test("webmTextTracks: a redeclared TrackNumber registers once, never twice") {
    val M = Multimodal
    import graft.operators.Ebml.el
    def track(num: Long, lang: String): Array[Byte] =
      el(0xAEL, el(0xD7L, Array(num.toByte)) ++
        el(0x83L, Array(0x11.toByte)) ++
        el(0x86L, "S_TEXT/UTF8".getBytes("ISO-8859-1")) ++
        el(0x22B59CL, lang.getBytes("ISO-8859-1")))
    val block = Array((0x80 | 3).toByte, 0.toByte, 0.toByte, 0.toByte) ++
      "dup".getBytes("UTF-8")
    // a minimal video track so webmInfo has a primary kind
    val vidTrack = el(0xAEL, el(0xD7L, Array(1.toByte)) ++
      el(0x83L, Array(0x01.toByte)) ++
      el(0x86L, "V_VP9".getBytes("ISO-8859-1")))
    val seg = el(0x18538067L,
      el(0x1549A966L, el(0x2AD7B1L, Array(0x0F.toByte, 0x42.toByte, 0x40.toByte))) ++
        el(0x1654AE6BL, vidTrack ++ track(3, "eng") ++ track(3, "fre")) ++
        el(0x1F43B675L, el(0xE7L, Array(0.toByte)) ++
          el(0xA0L, el(0xA1L, block) ++ el(0x9BL, Array(100.toByte)))))
    val mkv = Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
      0x80.toByte) ++ seg
    // FIRST declaration wins: one track, one cue — the hostile
    // redeclaration must not emit the same buffer under two indices
    val Some((_, tracks)) = M.webmTextTracks(mkv)
    assert(tracks.length == 1)
    assert(tracks.head._2 == "eng")
    assert(tracks.head._3.map(_.text) == Seq("dup"))
    // detection follows the same registration rule: the redeclared
    // number counts ONCE there too (review-sweep regression)
    assert(M.webmInfo(mkv).get.subtitleTracks == 1)
    // a raw 0xD7 leaf planted in a Cluster must not leak into a
    // later NUMBERLESS TrackEntry: track scratch is Entry-scoped in
    // every walker, so detection and extraction stay in agreement
    val numberless = el(0xAEL, el(0x83L, Array(0x11.toByte)) ++
      el(0x86L, "S_TEXT/UTF8".getBytes("ISO-8859-1")))
    val planted = el(0x18538067L,
      el(0x1549A966L, el(0x2AD7B1L,
        Array(0x0F.toByte, 0x42.toByte, 0x40.toByte))) ++
        el(0x1654AE6BL, vidTrack ++ track(3, "eng")) ++
        el(0x1F43B675L, el(0xE7L, Array(0.toByte)) ++
          el(0xD7L, Array(9.toByte)) ++ // the hostile planted leaf
          el(0xA0L, el(0xA1L, block) ++ el(0x9BL, Array(100.toByte)))) ++
        el(0x1654AE6BL, numberless))
    val mkv2 = Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
      0x80.toByte) ++ planted
    val Some((_, t2)) = M.webmTextTracks(mkv2)
    assert(t2.length == 1 && t2.head._3.map(_.text) == Seq("dup"))
    assert(M.webmInfo(mkv2).get.subtitleTracks == 1)
  }

  test("WebVTT-in-WebM: 3-line block layout, speaker captured, markup stripped") {
    val M = Multimodal
    import graft.operators.Ebml.el
    val track = el(0xAEL, el(0xD7L, Array(3.toByte)) ++
      el(0x83L, Array(0x11.toByte)) ++
      el(0x86L, "S_TEXT/WEBVTT".getBytes("ISO-8859-1")) ++
      el(0x22B59CL, "eng".getBytes("ISO-8859-1")))
    // WebM-spec block: identifier line, settings line, cue payload
    def bg(tMs: Int, payload: String, durMs: Int): Array[Byte] = {
      val blk = Array((0x80 | 3).toByte, ((tMs >> 8) & 0xff).toByte,
        (tMs & 0xff).toByte, 0.toByte) ++ payload.getBytes("UTF-8")
      el(0xA0L, el(0xA1L, blk) ++ el(0x9BL, Array(durMs.toByte)))
    }
    val seg = el(0x18538067L,
      el(0x1549A966L, el(0x2AD7B1L,
        Array(0x0F.toByte, 0x42.toByte, 0x40.toByte))) ++
        el(0x1654AE6BL, track) ++
        el(0x1F43B675L, el(0xE7L, Array(0.toByte)) ++
          bg(100, "cue-7\nline:63%\n<v Maya>voiced line", 200) ++
          bg(500, "\n\nplain payload", 200)))
    val mkv = Array(0x1A.toByte, 0x45.toByte, 0xDF.toByte, 0xA3.toByte,
      0x80.toByte) ++ seg
    val Some((_, tracks)) = M.webmTextTracks(mkv)
    assert(tracks.length == 1)
    val (codec, lang, cues) = tracks.head
    assert(codec == "webvtt" && lang == "eng")
    // identifier + settings lines never leak into text; the voice
    // span names the speaker and strips like the sidecar
    assert(cues.map(c => (c.startMs, c.endMs, c.text, c.speaker)) ==
      Seq((100L, 300L, "voiced line", "Maya"),
        (500L, 700L, "plain payload", null)))
    // the single-track surface selects it too: a pure-webvtt mux has
    // TEXT cues, whatever its codec label (review-sweep regression)
    val Some((_, _, single)) = M.webmSubtitleCues(mkv)
    assert(single.map(_.text) == Seq("voiced line", "plain payload"))
  }

  test("PGS image subtitles: intervals extract, detection and extraction agree") {
    val M = Multimodal
    import spark.implicits._
    // the Blu-ray-remux shape: bitmap subs only, no text track
    val mkv = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 3000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "fre",
        Seq((0L, 600L), (1000L, 1600L)))))
    val Some((doc, tks)) = M.webmTextTracks(mkv)
    assert(doc == "matroska" && tks.length == 1)
    val (codec, lang, cues) = tks.head
    assert(codec == "pgs" && lang == "fre")
    // PCS open/clear pairs become intervals with NULL text (bitmaps
    // are image data for the OCR seam, not text)
    assert(cues.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((0L, 600L, null), (1000L, 1600L, null)))
    // detection (webmInfo's 0x11 count) and extraction AGREE now
    assert(M.webmInfo(mkv).get.subtitleTracks == 1)
    // the single-track TEXT surface skips it (null text is not text)
    assert(M.webmSubtitleCues(mkv).isEmpty)
    val df = Seq((1L, mkv)).toDF("doc_id", "content")
    assert(M.subtitleCues(df).count() == 0)
    // ...but the per-track surface and the coverage gate SEE it
    val byTrack = M.subtitleCuesByTrack(df).collect()
    assert(byTrack.length == 2 && byTrack.forall(r =>
      r.getString(2) == "pgs" && r.isNullAt(6) && r.getString(7) == "fre"))
    val cov = M.dialogCoverage(df).collect().head
    assert(cov.getInt(2) == 1 && cov.getInt(3) == 2 &&
      cov.getLong(4) == 1200L && cov.getDouble(5) == 0.4)
    // a VobSub track declares (language, zero cues) — never invisible
    val vob = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_VOBSUB", "deu", Nil)))
    val Some((_, vtk)) = M.webmTextTracks(vob)
    assert(vtk == Seq(("vobsub", "deu", Nil)))
    val vcov = M.dialogCoverage(Seq((2L, vob)).toDF("doc_id", "content"))
      .collect().head
    assert(vcov.getInt(2) == 1 && vcov.getInt(3) == 0 &&
      vcov.getLong(4) == 0L)
    // mixed mux: a text track AND a PGS track — text cues still
    // reach the single-track surface, the per-track surface keeps
    // both (one text cue + one pgs interval)
    val mixed = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 4000L, subtitleTracks = 1, subLang = Some("eng"),
      subCues = Seq((100L, 500L, "spoken")),
      imageSubs = Seq(("S_HDMV/PGS", "eng", Seq((100L, 700L)))))
    assert(M.webmSubtitleCues(mixed).get._3.map(_.text) == Seq("spoken"))
    val mrows = M.subtitleCuesByTrack(
      Seq((3L, mixed)).toDF("doc_id", "content")).collect()
    assert(mrows.map(r => (r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, "webm"), (2, "pgs")))
    // a display left OPEN at stream end (truncated mux — no clear
    // PCS ever arrives) emits zero-length at its start, not lost
    val open = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "jpn", Seq((500L, 500L)))))
    val Some((_, otk)) = M.webmTextTracks(open)
    assert(otk.head._3.map(c => (c.startMs, c.endMs)) == Seq((500L, 500L)))
  }

  test("PGS bitmap decode: ODS plates reach the image stack, ordinals align with intervals") {
    val M = Multimodal
    import spark.implicits._
    // 8x4 plate, left half palette 200, right half palette 60 — the
    // identity-gray palette makes the decoded pixel gray(index)
    val mkv = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 3000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "fre",
        Seq((0L, 600L), (1000L, 1600L)))),
      pgsObjects = Map(0 -> ((8, 4, (x, _) => if (x < 4) 200 else 60))))
    val Some(rows) = M.webmPgsBitmaps(mkv)
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)) ==
      Seq((1, 1, 0L, 600L, 8, 4), (1, 2, 1000L, 1600L, 8, 4)))
    // the plates are REAL PNGs the existing image stack decodes
    val df = Seq((1L, mkv)).toDF("doc_id", "content")
    val bm = M.imageSubtitleBitmaps(df)
    val st = M.imageStats(bm, "bitmap")
      .select(col("cue_idx"), col("stats.ok"), col("stats.avg_r"),
        col("stats.avg_g"), col("stats.avg_b")).collect()
    assert(st.length == 2 && st.forall(_.getBoolean(1)))
    st.foreach { r =>
      Seq(2, 3, 4).foreach(i =>
        assert(math.abs(r.getDouble(i) - 130.0 / 255) < 1e-6, r.toString))
    }
    // ordinal contract: bitmap rows join the null-text interval rows
    val ivs = M.subtitleCuesByTrack(df)
      .select(col("track_idx"), col("cue_idx"), col("start_ms"),
        col("end_ms")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows.map(r => (r._1, r._2, r._3, r._4)).toSet == ivs)
    // transparent pixels composite onto black: right half index 0
    // (absent from the palette) -> avg gray 100/255
    val half = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "jpn", Seq((0L, 500L)))),
      pgsObjects = Map(0 -> ((8, 4, (x, _) => if (x < 4) 200 else 0))))
    val Some(hr) = M.webmPgsBitmaps(half)
    val hs = M.imageStats(M.imageSubtitleBitmaps(
      Seq((2L, half)).toDF("doc_id", "content")), "bitmap")
      .select(col("stats.avg_r")).collect()
    assert(hr.length == 1 &&
      math.abs(hs.head.getDouble(0) - 100.0 / 255) < 1e-6)
    // a display left open at stream end keeps its plate, zero-length
    val open = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "jpn", Seq((500L, 500L)))),
      pgsObjects = Map(0 -> ((4, 2, (_, _) => 77))))
    val Some(or) = M.webmPgsBitmaps(open)
    assert(or.map(r => (r._3, r._4, r._5, r._6)) == Seq((500L, 500L, 4, 2)))
    // interval-only PGS (no ODS ever muxed): intervals exist, no
    // bitmap rows — and junk/no-PGS inputs are None, never throw
    val bare = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "deu", Seq((0L, 300L)))))
    assert(M.webmPgsBitmaps(bare).isEmpty)
    assert(M.subtitleCuesByTrack(Seq((3L, bare)).toDF("doc_id", "content"))
      .count() == 1)
    assert(M.webmPgsBitmaps("junk".getBytes("UTF-8")).isEmpty)
    assert(M.webmPgsBitmaps(null).isEmpty)
    // truncation sweep: every prefix degrades (None or fewer rows),
    // never throws — the walker discipline
    (0 until mkv.length by 7).foreach { n =>
      M.webmPgsBitmaps(java.util.Arrays.copyOfRange(mkv, 0, n))
    }
    // hostile RLE: a run length far past the row width clips at the
    // buffer, truncated escape bytes leave the rest transparent
    val clipped = M.decodePgsRle(
      Array(0x00.toByte, 0xFF.toByte, 0xFF.toByte, 5.toByte), 4, 2)
    assert(clipped.length == 8 && clipped.take(4).forall(_ == 5.toByte))
    assert(M.decodePgsRle(Array(0x00.toByte), 4, 2).forall(_ == 0))
  }

  test("ocrImageSubtitles: plates ride the vision transport back as text cues") {
    val M = Multimodal
    import spark.implicits._
    // a content-derived fake OCR: "reads" each plate as g<avgGray>,
    // so the test proves the right bitmap reached the right cue
    val fake: () => graft.llm.SemanticOps.VisionClient =
      () => new graft.llm.SemanticOps.VisionClient {
        def analyzeImages(prompt: String,
            images: Seq[(Array[Byte], String)]): Seq[String] =
          images.map { case (bytes, mime) =>
            assert(mime == "image/png", mime)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            var sum = 0L
            for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
              sum += img.getRGB(x, y) & 0xff
            s"g${sum / (img.getWidth * img.getHeight)}"
          }
      }
    val mkv = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 3000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "fre",
        Seq((0L, 600L), (1000L, 1600L)))),
      pgsObjects = Map(0 -> ((8, 4, (_: Int, _: Int) => 77))))
    val rows = Seq((1L, mkv), (2L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = M.ocrImageSubtitles(rows, clientFactory = fake)
      .orderBy("cue_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(out.toSeq == Seq((1L, 1, 1, 0L, 600L, "g77"),
      (1L, 1, 2, 1000L, 1600L, "g77")))
  }

  test("parseTtml/parseSbv: sidecar dispatch, root discipline, hostiles") {
    val M = Multimodal
    val ttml = """<?xml version="1.0"?>
<tt xmlns="http://www.w3.org/ns/ttml">
 <body><div>
  <p begin="00:00:02.000" dur="00:00:01.500">ttml <span>styled</span> line</p>
  <p end="00:00:06.000" begin="00:00:05.000">second paragraph</p>
 </div></body>
</tt>
"""
    val Some((null, tc)) = M.parseTtml(ttml)
    assert(tc.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((2000L, 3500L, "ttml styled line"), (5000L, 6000L, "second paragraph")))
    // root discipline: an HTML page with <p begin=...> is NOT TTML
    assert(M.parseTtml(
      "<html><body><p begin=\"00:00:01.000\" end=\"00:00:02.000\">x</p></body></html>").isEmpty)
    assert(M.parseTtml(null).isEmpty)
    // xml:lang on the root is the sidecar's OWN declaration
    val withLang = ttml.replace("<tt xmlns=", "<tt xml:lang=\"fr\" xmlns=")
    assert(M.parseTtml(withLang).get._1 == "fr")
    // single-quoted declarations are legal XML too
    assert(M.parseTtml(ttml.replace("<tt xmlns=",
      "<tt xml:lang='deu' xmlns=")).get._1 == "deu")
    // a '<tt' inside a pre-root COMMENT must not steal the
    // declaration from the real root
    val commented = "<!-- converted from <tt xml:lang=\"en\"> -->\n" +
      withLang
    assert(M.parseTtml(commented).get._1 == "fr")
    val sbv = "0:00:01.000,0:00:03.500\nfirst line\nsecond\n\n" +
      "0:01:00.000,0:01:02.000\nlater block\n"
    val Some(sc) = M.parseSbv(sbv)
    assert(sc.map(c => (c.startMs, c.endMs, c.text)) ==
      Seq((1000L, 3500L, "first line\nsecond"), (60000L, 62000L, "later block")))
    assert(M.parseSbv("no stamps here").isEmpty)
    // DataFrame dispatch tags the formats
    val out = M.subtitleCues(Seq(
      (1L, ttml.getBytes("UTF-8")), (2L, sbv.getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "ttml"), (2L, "sbv")))
  }

  test("vorbis-comment chapters: the ogg-chapter-extension across Opus/Vorbis/FLAC") {
    val M = Multimodal
    val chaps = Seq((0L, "Intro"), (90500L, "Part one"), (3600000L, "Part two"))
    val opus = M.syntheticOpusTagged(2, 312, 48000, 96000L, "T", "A", "B",
      chapters = chaps)
    val Some(("vorbis", c1)) = M.mediaChaptersOf(opus)
    assert(c1.map(c => (c.startMs, c.text)) ==
      Seq((0L, "Intro"), (90500L, "Part one"), (3600000L, "Part two")))
    // LRC end rule: each chapter ends at the next start
    assert(c1.map(_.endMs) == Seq(90500L, 3600000L, 3600000L))
    val vorb = M.syntheticVorbis(2, 44100, 88200L,
      tags = Some(("T", "A", "B")), chapters = chaps.take(2))
    assert(M.mediaChaptersOf(vorb).get._2.map(_.text) ==
      Seq("Intro", "Part one"))
    val flac = M.syntheticFlacTagged(8000, 1, 16, 100L, "T", "A", "B",
      chapters = chaps.take(2))
    assert(M.mediaChaptersOf(flac).get._2.map(_.text) ==
      Seq("Intro", "Part one"))
    // chapterless streams and the card flag
    assert(M.mediaChaptersOf(M.syntheticOpusTagged(2, 312, 48000, 96000L,
      "T", "A", "B")).isEmpty)
    assert(M.audioChaptersPresent(opus) == java.lang.Boolean.TRUE)
    // tags coexist with chapters on the same comment block
    assert(M.opusTags(opus).map(_._1).contains("T"))
  }

  test("subtitleCuesByTrack: every muxed track kept with its own language") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(77)))
    // MP4 with TWO text tracks (eng tx3g + fre wvtt)
    val mp4 = M.syntheticMp4TimedText(frames,
      Seq((0L, 900L, "hello"), (1000L, 1800L, "again")),
      codec = "tx3g", lang = "eng",
      cues2 = Seq((100L, 700L, "bonjour")), codec2 = "wvtt", lang2 = "fre")
    val rows = M.subtitleCuesByTrack(Seq((1L, mp4)).toDF("doc_id", "content"))
      .collect().map(r => (r.getInt(1), r.getString(2), r.getString(7),
        r.getLong(4), r.getString(6))).toSet
    assert(rows == Set(
      (1, "tx3g", "eng", 0L, "hello"),
      (1, "tx3g", "eng", 1000L, "again"),
      (2, "wvtt", "fre", 100L, "bonjour")))
    // subtitleCues (the single-track surface) still picks track 1
    val first = M.subtitleCues(Seq((1L, mp4)).toDF("doc_id", "content"))
      .collect().map(_.getString(5)).toSet
    assert(first == Set("hello", "again"))
    // WebM: two S_TEXT tracks, cues on both
    val webm = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 4000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues = Seq((50L, 80L, "hi")),
      subCues2 = Seq((100L, 400L, "salut")))
    val wrows = M.subtitleCuesByTrack(Seq((2L, webm)).toDF("doc_id", "content"))
      .collect().map(r => (r.getInt(1), r.getString(7), r.getString(6))).toSet
    assert(wrows == Set((1, "eng", "hi"), (2, "fre", "salut")))
    // sidecars are track 1
    val srows = M.subtitleCuesByTrack(Seq(
      (3L, "1\n00:00:01,000 --> 00:00:02,000\nsidecar\n".getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
    assert(srows.length == 1 && srows.head.getInt(1) == 1)
  }

  test("translationPairs: overlap threshold, track ordering, single-track silence") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(50)))
    val mp4 = M.syntheticMp4TimedText(frames,
      Seq((0L, 1000L, "one"), (5000L, 6000L, "two")),
      codec = "tx3g", lang = "eng",
      // first pairs exactly at threshold (400/800); second is a
      // sub-threshold neighbor (100/1000 overlap) and must drop
      cues2 = Seq((600L, 1400L, "uno"), (5900L, 7000L, "late")),
      codec2 = "wvtt", lang2 = "spa")
    val out = M.translationPairs(Seq((1L, mp4)).toDF("doc_id", "content"))
      .collect().map(r => (r.getString(4), r.getString(5), r.getLong(6)))
    assert(out.toSeq == Seq(("one", "uno", 400L)))
    // lang_a is always the LOWER track: no (b, a) mirror rows
    val both = M.translationPairs(Seq((1L, mp4)).toDF("doc_id", "content"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(both == Set(("eng", "spa")))
    // a single-track asset pairs nothing
    assert(M.translationPairs(Seq(
      (2L, M.syntheticMp4TimedText(frames, Seq((0L, 900L, "solo"))))
    ).toDF("doc_id", "content")).count() == 0)
  }

  test("translationPairs: time-bucket band is exact at boundaries and near-linear on hostile cue counts") {
    val M = Multimodal
    // a pair whose cues BOTH span a bucket boundary must emit exactly
    // once (the overlap-start-bucket dedup rule)
    val boundary = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 3000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("spa"),
      subCues = Seq((900L, 1100L, "edge")),
      subCues2 = Seq((950L, 1150L, "borde")))
    val rows = M.translationPairs(
      Seq((1L, boundary)).toDF("doc_id", "content"), bucketMs = 1000L)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(6) == 150L) // overlap_ms
    // hostile density: 5000 cues per track — the raw id-only join
    // would build 25M candidate pairs in one task; the band keeps
    // per-bucket work tiny and the output is still the exact 5000
    // own-twin pairs (neighbors never reach the overlap threshold)
    val n = 5000
    val t1 = (0 until n).map(j => (6L * j, 6L * j + 4, s"a$j"))
    val t2 = (0 until n).map(j => (6L * j + 1, 6L * j + 5, s"b$j"))
    val dense = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 31000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues = t1, subCues2 = t2)
    val out = M.translationPairs(
      Seq((2L, dense)).toDF("doc_id", "content"), bucketMs = 50L)
    assert(out.count() == n)
    // spot-check one pair end to end
    val one = out.filter(col("start_ms") === 600L).collect()
    assert(one.length == 1 && one.head.getString(4) == "a100" &&
      one.head.getString(5) == "b100" && one.head.getLong(6) == 3L)
  }

  test("chapterAlignedCues: start-based assignment, ordered transcript, orphans drop") {
    val M = Multimodal
    val rows = Seq(
      // SYLT cues segmented by the SAME file's CHAP chapters;
      // out-of-order sync entries still join in TIME order
      (1L, M.syntheticId3(4, "B", "N", "S",
        chapters = Seq((0L, 10000L, "A"), (10000L, 20000L, "B")),
        syncedLyrics = Seq((12000L, "late"), (500L, "early"),
          (9900L, "straddle"))) ++
        M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101))))),
      // chapters but no cues: inner join drops the asset
      (2L, M.syntheticId3(4, "B", "N", "S",
        chapters = Seq((0L, 1000L, "empty"))) ++
        M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101)))))
    ).toDF("doc_id", "content")
    val out = M.chapterAlignedCues(rows).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getString(5))).sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      (1L, 1, "A", 2L, "early\nstraddle"),
      (1L, 2, "B", 1L, "late")))
  }

  test("round-15 review sweep: per-row isolation, point chapters, SDH pairs, SYLT precedence, mvhd order") {
    val M = Multimodal
    // (1) hostile CHAPTER value: an overflowing stamp must degrade
    // to None, never throw out of the corpus scan — swap the stamp
    // bytes of a valid fixture (same length, so the comment parses)
    val good = M.syntheticOpusTagged(2, 312, 48000, 96000L, "T", "A", "B",
      chapters = Seq((0L, "x")))
    val asStr = new String(good, "ISO-8859-1")
    val swapped = asStr.replace("00:00:00.000", "999999999999") // same length
    val hostileBytes = swapped.getBytes("ISO-8859-1")
    val got = M.mediaChaptersOf(hostileBytes) // must not throw
    assert(got.isEmpty || got.get._2.nonEmpty)
    // (2) point-marker chapters (end == start) segment by next start
    val pods = Seq(
      (1L, M.syntheticId3(4, "B", "N", "S",
        chapters = Seq((0L, 0L, "M1"), (5000L, 5000L, "M2")),
        syncedLyrics = Seq((100L, "at cent"), (6000L, "at six"))) ++
        M.syntheticMp3(3, 2, 1, Seq((9, Seq(100, 101)))))
    ).toDF("doc_id", "content")
    val seg = M.chapterAlignedCues(pods).collect()
      .map(r => (r.getString(2), r.getLong(3), r.getString(5)))
      .sortBy(_._1).toSeq
    assert(seg == Seq(("M1", 1L, "at cent"), ("M2", 1L, "at six")))
    // (3) same-language SDH track pairs are NOT translations
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frames = Seq(M.renderJpeg(8, 8, (_, _) => gray(44)))
    val sdh = M.syntheticMp4TimedText(frames,
      Seq((0L, 1000L, "line")), codec = "tx3g", lang = "eng",
      cues2 = Seq((0L, 1000L, "[door slams] line")),
      codec2 = "tx3g", lang2 = "eng")
    assert(M.translationPairs(Seq((1L, sdh)).toDF("doc_id", "content"))
      .count() == 0)
    assert(M.translationPairs(Seq((1L, sdh)).toDF("doc_id", "content"),
      crossLingualOnly = false).count() == 1)
    // (4) a format-2 SYLT frame wins over an earlier format-1 one,
    // even when the audio stream is unreadable (no MP3 bytes at all)
    val twoFrames = M.syntheticId3(4, "T", "A", "B",
      syncedLyrics = Seq((10L, "frames")), syltFormat = 1,
      syncedLyrics2 = Seq((1234L, "millis")), syltFormat2 = 2)
    val Some(cues) = M.id3SyltCues(twoFrames)
    assert(cues.map(c => (c.startMs, c.text)) == Seq((1234L, "millis")))
    // (5) mvhd AFTER the traks: the empty-edit delay still applies
    val delayed = M.syntheticMp4TimedText(frames,
      Seq((500L, 1500L, "late")), editDelayMs = 700L)
    def u32(b: Array[Byte], o: Int): Int =
      java.nio.ByteBuffer.wrap(b, o, 4).getInt
    val ftypLen = u32(delayed, 0)
    val mdatLen = u32(delayed, ftypLen)
    val moovAt = ftypLen + mdatLen
    assert(new String(delayed, moovAt + 4, 4, "ISO-8859-1") == "moov")
    val mvhdLen = u32(delayed, moovAt + 8)
    assert(new String(delayed, moovAt + 12, 4, "ISO-8859-1") == "mvhd")
    val reordered = delayed.take(moovAt + 8) ++
      delayed.slice(moovAt + 8 + mvhdLen, delayed.length) ++
      delayed.slice(moovAt + 8, moovAt + 8 + mvhdLen)
    val Some(("tx3g", shifted)) = M.mp4SubtitleCues(reordered)
    assert(shifted.head.startMs == 1200L, s"got ${shifted.head}")
  }

  test("dialogTurns: voiced cues merge into turns, adjacent different-speaker turns pair") {
    val M = Multimodal
    import spark.implicits._
    val vtt = """WEBVTT

00:00:00.000 --> 00:00:02.000
<v Ana>hello there

00:00:02.200 --> 00:00:04.000
<v Ben>hi!

00:00:04.100 --> 00:00:05.000
<v Ben>how are you

00:00:05.200 --> 00:00:06.000
<v Ana>fine

00:00:20.000 --> 00:00:21.000
<v Ana>later scene

00:00:21.200 --> 00:00:22.000
<v Ben>indeed
"""
    val rows = M.dialogTurns(Seq((1L, vtt.getBytes("UTF-8")))
      .toDF("doc_id", "content")).orderBy("turn_idx").collect()
    // Ben's two cues merge into one turn; Ana's post-cut line is a
    // NEW turn (14 s silence > the 5 s budget) so fine->later-scene
    // never pairs (same speaker); three exchanges survive
    assert(rows.map(r => (r.getString(3), r.getString(4), r.getString(5),
      r.getString(6), r.getLong(7))).toSeq == Seq(
      ("Ana", "hello there", "Ben", "hi! how are you", 200L),
      ("Ben", "hi! how are you", "Ana", "fine", 200L),
      ("Ana", "later scene", "Ben", "indeed", 200L)))
    // an unvoiced cue between voiced ones is skipped, not a break;
    // an unvoiced track emits nothing
    val mixed = """WEBVTT

00:00:00.000 --> 00:00:01.000
<v Ana>first half

00:00:01.100 --> 00:00:01.500
[door slams]

00:00:01.600 --> 00:00:02.000
<v Ana>second half

00:00:02.100 --> 00:00:03.000
<v Ben>reply
"""
    val m = M.dialogTurns(Seq((2L, mixed.getBytes("UTF-8")),
      (3L, "1\n00:00:01,000 --> 00:00:02,000\nplain\n".getBytes("UTF-8")))
      .toDF("doc_id", "content")).collect()
    assert(m.map(r => (r.getLong(0), r.getString(4), r.getString(6)))
      .toSeq == Seq((2L, "first half second half", "reply")))
  }

  test("speakerStats: per-speaker union talk time and share; unvoiced tracks silent") {
    val M = Multimodal
    import spark.implicits._
    // muxed wvtt carrier, proving speaker stats work beyond sidecars
    // (the sample table can't overlap — stacked-cue union rides the
    // sidecar below): Zoe 800 of 1200, Raj 400
    val mp4 = M.syntheticMp4TimedText(
      Seq(M.renderJpeg(8, 8, (_, _) => 0x303030)),
      Seq((0L, 500L, "<v Zoe>a"), (600L, 900L, "<v Zoe>b"),
        (1000L, 1400L, "<v Raj>c")),
      codec = "wvtt", lang = "eng")
    // sidecar with STACKED same-speaker cues: union counts once
    val vtt = ("WEBVTT\n\n00:00:00.000 --> 00:00:01.000\n<v Ana>x\n\n" +
      "00:00:00.800 --> 00:00:01.500\n<v Ana>y\n\n" +
      "00:00:02.000 --> 00:00:02.500\n<v Ben>z\n")
    val rows = M.speakerStats(Seq(
      (1L, mp4), (2L, vtt.getBytes("UTF-8")),
      (3L, "1\n00:00:01,000 --> 00:00:02,000\nplain\n".getBytes("UTF-8")))
      .toDF("doc_id", "content"))
      .orderBy("doc_id", "speaker").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2), r.getLong(3),
      r.getLong(4), r.getDouble(5))).toSeq == Seq(
      (1L, "Raj", 1L, 400L, 0.3333), (1L, "Zoe", 2L, 800L, 0.6667),
      (2L, "Ana", 2L, 1500L, 0.75), (2L, "Ben", 1L, 500L, 0.25)))
  }

  test("dialogCoverageByTrack: every track's own ratio, never the primary's") {
    val M = Multimodal
    import spark.implicits._
    // dubbed release: eng covers 1500/3000, the fre dub only 300/3000
    val two = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 3000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues = Seq((0L, 1000L, "a"), (800L, 1500L, "b")),
      subCues2 = Seq((100L, 400L, "un")))
    val rows = M.dialogCoverageByTrack(
      Seq((1L, two)).toDF("doc_id", "content"))
      .orderBy("track_idx").collect()
    assert(rows.map(r => (r.getInt(1), r.getString(3), r.getInt(5),
      r.getLong(6), r.getDouble(7))).toSeq ==
      Seq((1, "eng", 2, 1500L, 0.5), (2, "fre", 1, 300L, 0.1)))
    // a declaration-only VobSub track reports zero, not nothing;
    // PGS intervals carry real coverage
    val img = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, docType = "matroska",
      imageSubs = Seq(("S_HDMV/PGS", "jpn", Seq((0L, 500L))),
        ("S_VOBSUB", "deu", Nil)))
    val irows = M.dialogCoverageByTrack(
      Seq((2L, img)).toDF("doc_id", "content"))
      .orderBy("track_idx").collect()
    assert(irows.map(r => (r.getString(2), r.getString(3), r.getInt(5),
      r.getDouble(7))).toSeq ==
      Seq(("pgs", "jpn", 1, 0.25), ("vobsub", "deu", 0, 0.0)))
    // sidecars have no container duration: coverage is null, the
    // track row still shows its cues; junk emits nothing
    val side = M.dialogCoverageByTrack(Seq(
      (3L, "1\n00:00:01,000 --> 00:00:02,000\nx\n".getBytes("UTF-8")),
      (4L, "junk".getBytes("UTF-8"))).toDF("doc_id", "content"))
      .collect()
    assert(side.length == 1 && side.head.getString(2) == "srt" &&
      side.head.isNullAt(4) && side.head.getLong(6) == 1000L &&
      side.head.isNullAt(7))
    // a declaration-only BMFF subtitle trak (hdlr, no samples) is
    // visible with zero cues and zero coverage — the parity rule
    // subtitleTrackCount's detection promises (review-sweep fix)
    val decl = M.withMp4SubtitleTrack(M.syntheticMp4(32, 16, 2000L))
    assert(M.subtitleTrackCount(decl) == 1)
    val drows = M.dialogCoverageByTrack(
      Seq((5L, decl)).toDF("doc_id", "content")).collect()
    assert(drows.length == 1 && drows.head.getInt(5) == 0 &&
      drows.head.getLong(4) == 2000L && drows.head.getDouble(7) == 0.0,
      drows.mkString("; "))
  }

  test("dialogCoverage: interval union, container durations, degenerate rows") {
    val M = Multimodal
    def gray(v: Int): Int = (v << 16) | (v << 8) | v
    val frame = M.renderJpeg(8, 8, (_, _) => gray(80))
    // nested + overlapping + disjoint intervals: union = 1000 + 500
    val webm = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 5000L, subtitleTracks = 1,
      subCues = Seq((0L, 1000L, "a"), (200L, 600L, "nested"),
        (900L, 1000L, "tail"), (2000L, 2500L, "later")))
    val out = M.dialogCoverage(Seq((1L, webm)).toDF("doc_id", "content"))
      .collect().head
    assert(out.getLong(1) == 5000L && out.getInt(3) == 4 &&
      out.getLong(4) == 1500L && out.getDouble(5) == 0.3)
    // only the PRIMARY track drives speech_ms; n_tracks counts all
    val two = M.syntheticWebm("video", width = 8, height = 8,
      durationMs = 2000L, subtitleTracks = 2,
      subLang = Some("eng"), subLang2 = Some("fre"),
      subCues = Seq((0L, 400L, "x")), subCues2 = Seq((0L, 1900L, "y")))
    val t = M.dialogCoverage(Seq((2L, two)).toDF("doc_id", "content"))
      .collect().head
    assert(t.getInt(2) == 2 && t.getLong(4) == 400L && t.getDouble(5) == 0.2)
    // containerDurationMs: mp4 mvhd, webm Info, null for junk
    assert(M.containerDurationMs(M.syntheticMp4TimedText(
      Seq.fill(10)(frame), Seq((0L, 100L, "c")))) == 400L)
    assert(M.containerDurationMs("junk".getBytes("UTF-8")) == null)
    // the card's avg_dialog_coverage rides the SAME kernel:
    // webm 1500/5000, two-track 400/2000 -> avg(0.3, 0.2) = 0.25;
    // a duration-less container contributes nothing, not zero
    assert(M.dialogCoverageOf(webm) == 0.3 && M.dialogCoverageOf(two) == 0.2)
    assert(M.dialogCoverageOf("junk".getBytes("UTF-8")) == null)
    val card = M.mediaCard(Seq(("g", webm), ("g", two))
      .toDF("source", "content"), "content", "source").collect()
      .find(_.getString(1) == "avg_dialog_coverage").get
    assert(card.getDouble(2) == 0.25)
  }

  test("formatTtml/formatSbv: the round-15 writers round-trip") {
    val M = Multimodal
    val cues = Seq(M.SubCue(1, 1500L, 3000L, "first & <second>"),
      M.SubCue(2, 65250L, 70000L, "two\nlines"))
    val Some(("de", backT)) = M.parseTtml(M.formatTtml(cues, lang = "de"))
    assert(backT.map(c => (c.startMs, c.endMs, c.text)) ==
      cues.map(c => (c.startMs, c.endMs, c.text)))
    assert(M.parseTtml(M.formatTtml(cues)).get._1 == null)
    val Some(backS) = M.parseSbv(M.formatSbv(cues))
    assert(backS.map(c => (c.startMs, c.endMs, c.text)) ==
      cues.map(c => (c.startMs, c.endMs, c.text)))
    // the dispatch reads both export forms back under their tags
    val out = M.subtitleCues(Seq(
      (1L, M.formatTtml(cues, lang = "es").getBytes("UTF-8")),
      (2L, M.formatSbv(cues).getBytes("UTF-8"))
    ).toDF("doc_id", "content")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(6))).distinct
    assert(out.toSet == Set((1L, "ttml", "es"), (2L, "sbv", null)))
  }
}
