package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Relational (DataFrame-level) text-analysis operators — the shapes
  * that should be joins/aggregations rather than per-row lambda
  * expressions when run over 100 TB of documents.
  */
object TextOps {

  /** Join-based language ID: explode tokens, broadcast-join against a
    * (lang, word) stopword table, count hits per (doc, lang), take the
    * argmax (ties → lexicographically first lang), docs with no hits →
    * "und". The fully relational alternative to
    * [[TextFunctions.langIdHeuristic]] — use this form when the
    * profile table is too large to broadcast as an expression literal
    * (e.g. full lexicons); for small stopword profiles the custom
    * expression in TextFunctions is faster (no explode/shuffle).
    */
  def langIdTable(df: DataFrame, idCol: String, textCol: String,
      profiles: Map[String, Seq[String]] = TextFunctions.DefaultLangProfiles): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stopwords = profiles.toSeq
      .flatMap { case (lang, words) => words.map(w => (lang, w)) }
      .toDF("lang_cand", "token")
    // n_tokens stays OUT of the exploded flow: an expensive expression
    // in a grouping key is re-evaluated per input row by the aggregate
    // (measured 10× slowdown); doc-level metadata joins back at the end
    val docMeta = df.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
    val toks = df.select(col(idCol),
        explode_outer(TextFunctions.tokens(col(textCol))).as("token"))
    val hits = toks
      .join(broadcast(stopwords), Seq("token"), "left")
      .groupBy(col(idCol), col("lang_cand"))
      .agg(count(col("lang_cand")).as("n_hits"))
    // argmax via min(struct(-hits, lang)): highest hit count first,
    // then lexicographically first language on ties
    val best = hits
      .groupBy(col(idCol))
      .agg(min(struct((lit(0L) - col("n_hits")).as("neg_hits"),
        coalesce(col("lang_cand"), lit("und")).as("lang"))).as("top"))
      .join(docMeta, Seq(idCol))
    best.select(col(idCol),
      when(col("top.neg_hits") < 0, col("top.lang")).otherwise(lit("und"))
        .as("detected_lang"),
      round((lit(0L) - col("top.neg_hits")) /
        greatest(col("n_tokens"), lit(1)).cast("double"), 4).as("confidence"))
  }

  /** Deterministic stratified sampling: keep a per-stratum fraction of
    * rows selected by HASH of the id, not by RNG. `rand(seed)`-based
    * sampling (including Spark's `sampleBy`) draws per-row in
    * partition order, so the selected SET changes whenever
    * partitioning or row order changes — irreproducible at cluster
    * scale. Hashing the id makes the decision a pure row property:
    * same corpus, same sample, on any cluster layout, and the sample
    * is stable under incremental appends (old rows never flip).
    * Strata not in `fractions` are dropped.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], buckets: Int = 10000): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1]: $fractions")
    val fracMap = map(fractions.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    df.withColumn("__frac", element_at(fracMap, col(strataCol).cast("string")))
      .filter(col("__frac").isNotNull &&
        pmod(xxhash64(col(idCol)), lit(buckets)).cast("double") <
          col("__frac") * buckets)
      .drop("__frac")
  }

  /** Portable selection hash: the first 32 bits of
    * md5("<seed>:<id>") as a long in [0, 2³²) — computable identically
    * in any engine with md5 (the cross-engine twin of
    * [[stratifiedSample]]'s xxhash64 selection, for pipelines whose
    * sampling decisions must be reproducible OUTSIDE Spark too).
    * Same properties: pure row function, partition-invariant,
    * append-stable.
    */
  def portableHash(idCol: Column, seed: String): Column =
    conv(substring(md5(concat_ws(":", lit(seed), idCol.cast("string"))), 1, 8),
      16, 10).cast("long")

  /** Domain-mixture resampling — downsample a multi-source corpus to
    * TARGET mixture proportions (the data-mixture step of a training
    * pipeline: "the output should be 50% web, 30% code, 20% books").
    * The feasible output is bounded by the scarcest stratum
    * (`N = min_s n_s/t_s`; that stratum keeps everything, rate 1.0);
    * every other stratum keeps `N·t_s/n_s` of its rows, selected by
    * [[portableHash]] — deterministic, partition-invariant, and
    * reproducible in any engine with md5.
    *
    * Scale: one tiny count aggregate derives the rates (broadcast
    * back); selection is a map-side filter — no shuffle of the corpus
    * itself. Strata missing from `targets` (or targeted at 0) are
    * dropped.
    */
  def mixtureResample(df: DataFrame, strataCol: String, idCol: String,
      targets: Map[String, Double], seed: String = "mix"): DataFrame = {
    require(targets.values.forall(_ >= 0), s"targets must be >= 0: $targets")
    // Fit the per-stratum rates with ONE bounded action — the stratum
    // count aggregate is #strata rows, and the mixture policy is a
    // fitted model exactly like [[Curation.exportFilterWithRates]]'
    // rates map. Applying the rates as a literal map keeps the
    // selection map-only: no broadcast-join machinery, no extra AQE
    // stage jobs per query (the q53/q77 job-count discipline). The
    // driver-side arithmetic replicates the previous plan-side
    // expressions op-for-op (cap = n/target; rate = mincap*target/n —
    // IEEE doubles, identical order), so selections are bit-stable
    // across the rewrite.
    // countByValue = ONE map-side-combined job (a groupBy.collect is
    // an exchange job + a final job under AQE)
    val counts = df.select(col(strataCol).cast("string")).rdd
      .map(_.getString(0)).countByValue()
    val capped = counts.flatMap { case (s, nRows) =>
      targets.get(s).filter(_ > 0).map(t => (s, nRows, t, nRows.toDouble / t))
    }
    if (capped.isEmpty) return df.filter(lit(false))
    val minCap = capped.map(_._4).min
    val rates = capped.map { case (s, nRows, t, _) =>
      s -> minCap * t / nRows.toDouble
    }.toMap
    val rateCol = element_at(
      map(rates.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col(strataCol).cast("string"))
    df.filter(rateCol.isNotNull &&
      portableHash(col(idCol), seed) < rateCol * lit(4294967296.0))
  }

  /** Token-budget mixture sampling — real training mixes are specified
    * in TOKENS, not documents ("50B web tokens, 10B code tokens"): per
    * stratum, documents are taken in [[portableHash]] order (the same
    * deterministic, append-ordering-free total order the mixture
    * family uses) until the stratum's token budget is exhausted —
    * PREFIX semantics: a document is selected iff the running token
    * total through it (hash order, ties by id) stays ≤ the budget.
    * Strata without a budget are dropped. Returns the selected rows
    * plus `n_tok` and the running `cum_tok`.
    *
    * Scale shape — the naive form is one window cumsum partitioned by
    * stratum, which serializes EACH STRATUM through one reducer (a
    * 50B-token stratum through one task). This is the exact two-phase
    * decomposition instead: documents range-bucket by hash
    * (`buckets` ranges), phase 1 is one tiny (stratum, bucket)
    * token-subtotal aggregate, the driver prefix-sums the ≤ #strata ×
    * buckets subtotals to find each stratum's cutoff bucket, and only
    * THAT one bucket (~1/`buckets` of the stratum) pays the exact
    * window cumsum; buckets before the cutoff are selected wholesale
    * map-side, buckets after are dropped map-side. Identical output
    * to the single-window form (the q101 oracle IS that form).
    */
  def tokenBudgetSample(df: DataFrame, strataCol: String, idCol: String,
      textCol: String, budgets: Map[String, Long], seed: String = "mix",
      buckets: Int = 256, tokenCount: Option[Column] = None): DataFrame = {
    require(budgets.values.forall(_ >= 0), s"budgets must be >= 0: $budgets")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val budgetCol = element_at(
      map(budgets.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col(strataCol).cast("string"))
    // the accounting unit defaults to whitespace tokens; pass a fitted
    // tokenizer's count (Bpe.pieceCount / Unigram.pieceCount) to run
    // the SAME bucketed selection on real piece numbers
    val keyed = df
      .withColumn("n_tok",
        tokenCount.getOrElse(TextFunctions.tokenCount(col(textCol))).cast("long"))
      .withColumn("__h", portableHash(col(idCol), seed))
      .withColumn("__b", (col("__h") / lit(4294967296.0 / buckets)).cast("int"))
      .filter(budgetCol.isNotNull)
    // phase 1: (stratum, bucket) token subtotals — ≤ #strata × buckets
    // rows back to the driver
    val subtotals = keyed
      .groupBy(col(strataCol).cast("string").as("__s"), col("__b"))
      .agg(sum(col("n_tok")).as("__t"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // driver prefix over hash-ordered buckets: per stratum, the last
    // fully-selected bucket, the single cutoff bucket, and the
    // cumulative tokens entering it
    val cutoff = scala.collection.mutable.Map.empty[String, Int]
    val before = scala.collection.mutable.Map.empty[String, Long]
    subtotals.groupBy(_._1).foreach { case (s, rows) =>
      val budget = budgets(s)
      var cum = 0L
      var c = buckets // no cutoff: every bucket fully selected
      val it = rows.sortBy(_._2).iterator
      while (it.hasNext && c == buckets) {
        val (_, b, t) = it.next()
        if (cum + t > budget) { c = b; before(s) = cum }
        else cum += t
      }
      cutoff(s) = c
    }
    val cutoffCol = element_at(
      map(cutoff.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col(strataCol).cast("string"))
    // per-(stratum, bucket) token prefix (tokens in all earlier
    // buckets) — a tiny broadcast table, so the exact cumsum windows
    // partition by (stratum, BUCKET): every bucket's scan runs in
    // parallel, and no stratum ever funnels through one reducer.
    val spark = df.sparkSession
    import spark.implicits._
    val prefixRows = subtotals.groupBy(_._1).toSeq.flatMap { case (s, rows) =>
      var cum = 0L
      rows.sortBy(_._2).collect {
        case (_, b, t) if b <= cutoff(s) =>
          val out = (s, b, cum); cum += t; out
      }
    }
    val prefixDf = prefixRows.toDF("__s", "__b", "__pre")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol), col("__b")).orderBy(col("__h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    keyed
      .filter(col("__b") <= cutoffCol)
      .join(broadcast(prefixDf),
        col(strataCol).cast("string") === col("__s") && keyed("__b") === prefixDf("__b"))
      .drop(prefixDf("__b"))
      .withColumn("cum_tok", col("__pre") + sum(col("n_tok")).over(w))
      .filter(col("__b") < cutoffCol || col("cum_tok") <= budgetCol)
      .drop("__h", "__b", "__s", "__pre")
  }

  /** α-temperature mixture sampling (the multilingual rebalancing rule
    * of XLM-R §3.1 / mT5: sample stratum s with probability
    * `p_s ∝ n_s^α`, α < 1 flattening the head so low-resource strata
    * are not drowned out; α = 1 keeps natural proportions, α = 0 is
    * uniform across strata). Given a `totalDocs` output budget,
    * stratum s keeps `k_s = min(n_s, round(totalDocs · p_s))` rows,
    * selected as the [[portableHash]]-order prefix — deterministic,
    * partition-invariant, append-stable, same ordering discipline as
    * the whole mixture family.
    *
    * Scale: ONE `countByValue` job fits the policy (#strata rows to
    * the driver); selection is a rank filter bounded by the LITERAL
    * `max(k_s)` conjunct, so it plans as WindowGroupLimit (running
    * top-k heap per partition) — never a full per-stratum sort, the
    * q75 discipline. Output: input rows + `k_stratum` (the stratum's
    * quota).
    */
  def temperatureResample(df: DataFrame, strataCol: String, idCol: String,
      alpha: Double, totalDocs: Long, seed: String = "mix"): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0: $alpha")
    require(totalDocs >= 0, s"totalDocs must be >= 0: $totalDocs")
    val counts = df.select(col(strataCol).cast("string")).rdd
      .map(_.getString(0)).countByValue()
    if (counts.isEmpty) return df.filter(lit(false)).withColumn("k_stratum", lit(0L))
    val z = counts.values.map(n => math.pow(n.toDouble, alpha)).sum
    val ks = counts.map { case (s, n) =>
      s -> math.min(n, math.round(totalDocs * math.pow(n.toDouble, alpha) / z))
    }
    val maxK = ks.values.max
    val kCol = element_at(
      map(ks.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col(strataCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(portableHash(col(idCol), seed), col(idCol))
    df.withColumn("__rank", row_number().over(w))
      // literal bound first: the optimizer extracts it for the
      // WindowGroupLimit heap; the per-stratum quota applies as a
      // plain filter behind it
      .filter(col("__rank") <= lit(maxK) && col("__rank") <= kCol)
      .withColumn("k_stratum", kCol)
      .drop("__rank")
  }

  /** Exact per-stratum deterministic sample: exactly `k` rows per
    * stratum (fewer if the stratum is smaller), selected by ranking on
    * [[portableHash]] — the deterministic replacement for per-group
    * reservoir sampling ("give me exactly 100 docs per language").
    * Reproducible on any partitioning, in any md5-capable engine, and
    * stable ties (hash, then id).
    *
    * Scale: rank-k-per-group plans as WindowGroupLimit (Spark ≥ 3.5
    * keeps a running top-k heap per partition instead of sorting whole
    * partitions — PlanAudit locks this shape).
    */
  def samplePerStratum(df: DataFrame, strataCol: String, idCol: String,
      k: Int, seed: String = "stratum"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(portableHash(col(idCol), seed), col(idCol))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** Group-aware train/validation/test split: every row of a GROUP
    * (domain, author, dedup class — whatever leaks information across
    * its members) lands in the SAME split, so evaluation can never see
    * near-copies of training rows. Assignment hashes the group key
    * with [[portableHash]] into [0,1) and walks the cumulative
    * `weights` boundaries — deterministic, partition-invariant,
    * append-stable (new rows of a known group follow their group;
    * brand-new groups split ~proportionally).
    *
    * Scale shape: pure map-side projection (one hash + a literal
    * boundary ladder per row); no shuffle, no fitted state. This is
    * the split discipline the dedup literature demands after near-dup
    * classing (splitting WITHIN a dup class is leakage by
    * construction).
    *
    * `weights` values must be positive and sum to ~1 (normalized
    * defensively); iteration order of the ladder follows the Seq.
    */
  def groupAwareSplit(df: DataFrame, groupCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      seed: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    val u = portableHash(col(groupCol), seed).cast("double") / lit(4294967296.0)
    val cums = weights.scanLeft(0.0)(_ + _._2 / total).tail
    // last bucket is the default branch: u < 1 always, and it absorbs
    // any floating residue in the boundary ladder
    val ladder = weights.init.zip(cums.init).foldRight(
      lit(weights.last._1): Column) { case (((name, _), hi), els) =>
      when(u < hi, name).otherwise(els)
    }
    df.withColumn("split", ladder)
  }

  /** BM25 lexical top-k — the engine-side analog of the reference's
    * provider-side search (`exa_search_tool.py`, `web_search`): rank
    * documents against a bag of query terms with the standard
    * Okapi/Lucene scoring,
    * `idf(t) · tf / (tf + k1·(1−b + b·dl/avgdl))` with
    * `idf = ln((N − df + 0.5)/(df + 0.5) + 1)`.
    *
    * Scale shape: ONE tiny corpus-stats aggregate (N, avgdl, and df
    * for the query's terms only — never a full-vocabulary aggregate
    * for a known query) broadcast back as literals, then a map-side
    * score projection and a TakeOrderedAndProject top-k. No shuffle
    * touches the corpus beyond the stats pass.
    *
    * Tokenization is lowercase-free whitespace splitting to stay
    * oracle-restatable; swap in [[TextFunctions]] tokenizers for real
    * corpora.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank: empty query")
    val terms = queryTerms.distinct
    val toks = df.select(col(idCol), split(col(textCol), " ").as("toks"))
      .withColumn("dl", size(col("toks")))
    val aggs = Seq(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("toks"), lit(t)).cast("long")).as(s"df_$i")
      }
    val stats = toks.agg(aggs.head, aggs.tail: _*).head()
    val n = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val dfT = stats.getLong(2 + i)
      val idf = math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      val tf = size(filter(col("toks"), x => x === lit(t))).cast("double")
      lit(idf) * tf /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    }.reduce(_ + _)
    toks.select(col(idCol), round(score, 6).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion of ranked result lists (hybrid search:
    * BM25 ∪ vector ANN): `rrf(d) = Σ_lists 1/(kRrf + rank_d)`, items
    * missing from a list contribute nothing. Rank frames are tiny
    * (top-k each), so the union+aggregate is driver-scale regardless
    * of corpus size — fusion cost is O(k · lists).
    */
  def rrfFuse(ranked: Seq[DataFrame], idCol: String, rankCol: String = "rank",
      kRrf: Int = 60, k: Int = 10): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse: no ranked lists")
    ranked.map(r => r.select(col(idCol),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(round(sum(col("contrib")), 6).as("rrf"))
      .orderBy(desc("rrf"), col(idCol))
      .limit(k)
  }

  /** Sequence packing — assign each document to a fixed-token-budget
    * training bin under the standard concat-then-chunk model (GPT-
    * style pretraining batches): documents concatenate in `orderCol`
    * order and bin `i` covers token span `[i*budget, (i+1)*budget)`;
    * a document lands in the bin where its span STARTS (exclusive
    * running sum ÷ budget). Deterministic given unique `orderCol`.
    *
    * Scale: a naive global-order window is a single-partition sort —
    * the 100 TB killer — so this is the two-pass decomposition:
    * range-repartition by `orderCol` into `shards`, per-shard window
    * cumsum (parallel), then each shard's base offset (the sum of all
    * earlier shards' tokens — `shards` numbers, computed on the
    * driver) joins back broadcast. One range exchange + one tiny
    * collect instead of a global sort to one task.
    *
    * Returns the input plus `n_tokens` and `bin`.
    */
  def packSequences(df: DataFrame, orderCol: String, tokenBudget: Long,
      textCol: String = "text", shards: Int = 0): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val spark = df.sparkSession
    val nShards = if (shards > 0) shards
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val sharded = df
      .select(col("*"), TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .repartitionByRange(nShards, col(orderCol))
      .withColumn("__shard", org.apache.spark.sql.functions.spark_partition_id())
      .localCheckpoint(false) // shard ids must not be recomputed differently per action
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withLocal = sharded.withColumn("__local_prior",
      coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    // shard base offsets: tiny (one row per shard) — driver-side scan
    val totals = sharded.groupBy(col("__shard"))
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nShards).scanLeft(0L)((acc, s) => acc + totals.getOrElse(s, 0L))
    val offsetDf = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until nShards).map(s =>
        org.apache.spark.sql.Row(s, offsets(s))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__shard",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__base",
          org.apache.spark.sql.types.LongType, nullable = false))))
    withLocal.join(broadcast(offsetDf), Seq("__shard"))
      .withColumn("bin", call_function("div",
        col("__base") + col("__local_prior"), lit(tokenBudget)))
      .drop("__shard", "__local_prior", "__base")
  }

  /** Per-document lexical-diversity and readability profile — the
    * quality-classifier feature block (Gopher/C4-style filters key on
    * exactly these: lexical diversity, word shape, readability):
    * token/type counts, type-token ratio, mean word length, a
    * vowel-group syllable estimate, and the Flesch reading-ease score
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * Sentences are `[.!?]+` runs, floored at one so punctuation-free
    * text (common in crawled fragments) degrades to whole-doc-as-one-
    * sentence instead of dividing by zero. Empty documents report
    * zeros.
    *
    * Scale: map-only — every stat is a row-local expression
    * (higher-order `aggregate` for character totals, `regexp_count`
    * for syllable groups); zero exchanges.
    */
  def lexicalStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val n = size(tk)
    val nTypes = size(array_distinct(tk))
    val chars = aggregate(tk, lit(0L), (acc, t) => acc + length(t))
    val syll = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
    val sents = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
    val flesch = lit(206.835) -
      lit(1.015) * (n.cast("double") / sents.cast("double")) -
      lit(84.6) * (syll.cast("double") / n.cast("double"))
    df.select(col(idCol),
      n.cast("long").as("n_tokens"),
      nTypes.cast("long").as("n_types"),
      when(n > 0, round(nTypes.cast("double") / n.cast("double"), 6))
        .otherwise(lit(0.0)).as("ttr"),
      when(n > 0, round(chars.cast("double") / n.cast("double"), 6))
        .otherwise(lit(0.0)).as("avg_word_len"),
      syll.cast("long").as("syllables"),
      when(n > 0, round(flesch, 6)).otherwise(lit(0.0)).as("flesch"))
  }

  /** Exact-phrase occurrence count as a row-local Column: the number
    * of token positions where the document's
    * [[TextFunctions.tokens]] stream matches `phrase` consecutively.
    * A higher-order `filter` over candidate starts — map-only, stays
    * on the scan, no explode. The brute-force twin of
    * [[phraseSearch]]; the gate oracle restates this form.
    */
  def phraseOccurrences(text: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phraseOccurrences: empty phrase")
    val m = phrase.length
    val tk = TextFunctions.tokens(text)
    val phr = array(phrase.map(p =>
      lit(p.toLowerCase(java.util.Locale.ROOT))): _*)
    when(size(tk) >= m,
        size(filter(sequence(lit(1), size(tk) - (m - 1)),
          i => slice(tk, i, lit(m)) === phr)))
      .otherwise(0)
  }

  /** Positional posting lists: one row per token occurrence,
    * `(idCol, pos, token)`. Materialize once (parquet, partitioned or
    * bucketed by a token hash) and phrase/term queries become
    * pruned-scan equi-joins over just the queried terms' postings
    * instead of full-corpus rescans — the classic inverted-index
    * trade the reference gets from its search providers
    * (`exa_search_tool.py`): build cost up front, per-query cost
    * proportional to term frequency.
    */
  def buildPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))

  /** Exact-phrase search over [[buildPostings]] output: for an
    * m-token phrase, each term's postings are filtered (predicate on
    * `token` — pushed to the scan, partition-pruned under a
    * token-partitioned layout) and aligned to the phrase start
    * (`pos − i`), then intersected with m−1 equi-joins on
    * `(idCol, start)`. Returns `(idCol, n_occurrences)` for documents
    * with at least one occurrence — identical, occurrence-for-
    * occurrence, to scanning with [[phraseOccurrences]] (the spec and
    * the q90 gate lock this equivalence).
    *
    * Scale: join input is the postings of the PHRASE terms only;
    * rarest-term postings bound the intersection. No full-corpus
    * pass at query time.
    */
  def phraseSearch(postings: DataFrame, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val norm = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    val aligned = norm.zipWithIndex.map { case (t, i) =>
      postings.filter(col("token") === lit(t))
        .select(col(idCol), (col("pos") - i).as("__start"))
    }
    aligned.reduce((a, b) => a.join(b, Seq(idCol, "__start")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Per-document TF-IDF keyword extraction: the top `topJ` tokens by
    * `tf · (ln((N+1)/(df+1)) + 1)` (smoothed idf — never negative,
    * defined for df = N), ties broken by token. The classic
    * document-labeling / topic-tagging primitive.
    *
    * Scale: term frequencies are one map-side-combined aggregate on
    * (doc, token); document frequencies aggregate the SAME exploded
    * frame by token (vocabulary-sized, Zipf-bounded); the idf join is
    * a token equi-join; per-doc top-j is a rank window that plans as
    * WindowGroupLimit (locked by PlanAudit), never a full sort. The
    * corpus size N rides the plan as a broadcast singleton aggregate
    * (no separate `count()` action — the whole query is ONE job).
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      topJ: Int = 5): DataFrame = {
    require(topJ >= 1, s"topJ must be >= 1: $topJ")
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n"))
    // tokenize+explode is CPU-bound — floor the scan parallelism so a
    // single-split local table doesn't serialize it (no-op at scale)
    val toks = Scale.parallelismFloor(df).select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col(idCol), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = log((col("__n") + 1) / (col("df").cast("double") + 1)) + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(desc("__score"), col("token"))
    joinSingleton(tf.join(dfreq, Seq("token")), nDocs)
      .withColumn("__score", col("tf").cast("double") * idf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topJ)
      .select(col(idCol), col("rank"), col("token"),
        round(col("__score"), 6).as("score"))
  }

  /** Attach a one-row aggregate to every row of `df` as a
    * constant-key broadcast equi-join (plans BroadcastHashJoin, never
    * a nested loop), so corpus-level scalars (sizes, totals) ride the
    * plan instead of costing a separate driver action per scalar.
    */
  private def joinSingleton(df: DataFrame, singleton: DataFrame): DataFrame =
    df.withColumn("__k", lit(1))
      .join(broadcast(singleton.withColumn("__k", lit(1))), Seq("__k"))
      .drop("__k")

  /** Corpus-level PMI collocations over adjacent token pairs:
    * `pmi(a,b) = ln( (c_ab / B) / ((c_a / U) · (c_b / U)) )` with `B`
    * total bigrams and `U` total unigrams; pairs seen fewer than
    * `minCount` times are dropped (the standard sparse-PMI guard),
    * top `topK` by pmi with (w1, w2) tie-break. Collocation mining —
    * the phrase-vocabulary feed for tokenizer/stopword curation.
    *
    * Scale: two count aggregates (bigram-keyed and token-keyed), two
    * token equi-joins to attach unigram counts, and a
    * TakeOrderedAndProject top-k. The unigram side is
    * vocabulary-sized; nothing all-pairs. The corpus totals U and B
    * are sums over those same two aggregates, attached as broadcast
    * singletons (constant-key hash joins) — no separate scalar
    * actions: after the two checkpoint builds the query is ONE job.
    */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val grams = Curation.wordNgrams(col(textCol), 2)
    // both explode aggregates re-scan the corpus; floor the scan
    // parallelism once so a single-split local table doesn't
    // serialize the tokenization (no-op at scale)
    val src = Scale.parallelismFloor(df)
    // Each count aggregate is materialized ONCE: `uni` has three
    // consumers (w1 attach, w2 attach, U total) and `bi0` two (the
    // filtered pair table, B total), and the join-key isnotnull
    // constraints Catalyst infers push BELOW the aggregates on the
    // join branches only — the exchange subtrees stop being identical
    // and ReuseExchange cannot fire, so the un-checkpointed form
    // re-exploded and re-aggregated the corpus FIVE times (measured:
    // two 5 s-CPU bigram stages + three unigram stages at sf0.1).
    // Both frames are vocabulary-sized — checkpointing them is cheap.
    // Eager: a lazy checkpoint materializes inside the consuming job,
    // where its consumers' concurrent stages can both compute the same
    // partitions.
    val uni = src.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .localCheckpoint(true)
    val uniTotal = uni.agg(sum(col("cw")).cast("double").as("__u"))
    val bi0 = src.select(explode(grams).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cab"))
      .localCheckpoint(true)
    val biTotal = bi0.agg(sum(col("cab")).cast("double").as("__b"))
    val bi = bi0.filter(col("cab") >= minCount)
    val withW = joinSingleton(joinSingleton(bi
      .withColumn("w1", split(col("g"), " ").getItem(0))
      .withColumn("w2", split(col("g"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2")),
      uniTotal), biTotal)
    val pmi = log((col("cab").cast("double") / col("__b")) /
      ((col("c1").cast("double") / col("__u")) *
        (col("c2").cast("double") / col("__u"))))
    withW.select(col("w1"), col("w2"), col("cab").as("n_pair"),
        round(pmi, 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** Ranked-retrieval evaluation — recall@k, MRR@k, and (binary)
    * nDCG@k per query, the standard harness for grading the engine's
    * own retrieval stack (BM25 [[bm25Rank]], ANN
    * [[graft.operators.Similarity]], hybrid [[rrfFuse]]) against
    * relevance judgments. `results` holds `(queryCol, docCol,
    * rankCol)` with 1-based ranks; `qrels` holds binary-relevant
    * `(queryCol, docCol)` pairs. Queries absent from `qrels` have no
    * defined metrics and are dropped; queries with judgments but zero
    * top-k hits score 0 across the board.
    *
    * `nDCG@k = Σ_hits 1/log2(rank+1) / Σ_{i=1..min(n_rel,k)} 1/log2(i+1)`.
    *
    * Scale: two equi-joins on (query, doc) and per-query aggregates;
    * `results` is already top-k per query so every frame after the
    * first join is O(queries · k). The ideal-DCG denominator is a
    * row-local higher-order `aggregate` over `sequence`, not a join
    * against a rank table.
    */
  def retrievalMetrics(results: DataFrame, qrels: DataFrame,
      queryCol: String, docCol: String, rankCol: String = "rank",
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val rels = qrels.select(col(queryCol), col(docCol)).distinct()
    val hits = results.filter(col(rankCol) <= k)
      .select(col(queryCol), col(docCol), col(rankCol))
      .join(rels, Seq(queryCol, docCol))
    val hagg = hits.groupBy(col(queryCol)).agg(
      count(lit(1)).as("n_hits"),
      min(col(rankCol)).as("__first"),
      sum(lit(1.0) / log2(col(rankCol).cast("double") + 1)).as("__dcg"))
    val nrel = rels.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val idcg = aggregate(
      sequence(lit(1L), least(col("n_rel"), lit(k.toLong))), lit(0.0),
      (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1))
    nrel.join(hagg, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_rel"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_rel"), 6).as("recall_at_k"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) / idcg, 6).as("ndcg_at_k"))
  }

  /** Fixed-token-window document chunking with overlap — the RAG/
    * context-window preparation step (the reference feeds scraped page
    * text to context-bounded LLM calls, `web_scrape_tool.py` +
    * `llm/litellm.py`; chunking is how that survives long documents).
    * Chunk `i` of a document covers tokens `[i·step, i·step + chunkTokens)`
    * where `step = chunkTokens − overlapTokens`; the final chunk may be
    * short; a document shorter than one chunk yields exactly one chunk;
    * an empty document yields none. Tokens are
    * [[TextFunctions.tokens]] (lowercased, whitespace-split) so the
    * definition restates in the oracle engine.
    *
    * Returns `(idCol, chunk_idx, token_start, n_tokens, chunk_text)`.
    *
    * Scale: map-only — tokenize, `sequence` of starts, `posexplode`,
    * slice. Zero exchanges; output size is input × (1 + overlap/step).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens): $overlapTokens")
    val step = chunkTokens - overlapTokens
    val starts = when(size(col("__tk")) > 0,
        sequence(lit(0), size(col("__tk")) - 1, lit(step)))
      .otherwise(array().cast("array<int>"))
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        posexplode(starts).as(Seq("chunk_idx", "token_start")))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("token_start").cast("long").as("token_start"),
        size(slice(col("__tk"), col("token_start") + 1, lit(chunkTokens)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("__tk"), col("token_start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }
}
