package graft

import java.nio.file.{Files, Paths}

/** Differential relational fuzz: deterministically generate N random
  * SELECTs over the star schema in the SQL dialect subset shared by
  * Spark and DuckDB, run them through the gated engine, dump results +
  * the query list; `scripts/fuzz_check.py` replays the same SQL in
  * DuckDB and hash-compares (the driver-gate compare, scaled to
  * hundreds of machine-generated queries).
  *
  *   sbt "runMain graft.Fuzz /root/testdata/sf0.01 /tmp/fuzz_out 200"
  *   python3 scripts/fuzz_check.py /root/testdata/sf0.01 /tmp/fuzz_out
  */
object Fuzz {

  final case class Rng(var s: Long) {
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def int(n: Int): Int = math.floorMod(next(), n.toLong).toInt
    def pick[T](xs: Seq[T]): T = xs(int(xs.size))
  }

  // (table, group-able cols, numeric cols, filterable (col, literal-gen))
  private def genQuery(rng: Rng): String = {
    val tables = Seq(
      ("lineitem",
        Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq(
          () => s"l_quantity ${cmp(rng)} ${rng.int(50) + 1}",
          () => s"l_extendedprice ${cmp(rng)} ${(rng.int(90) + 1) * 1000}",
          () => s"l_discount ${cmp(rng)} 0.0${rng.int(9) + 1}",
          () => s"l_returnflag = '${rng.pick(Seq("A", "N", "R"))}'")),
      ("orders",
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_totalprice"),
        Seq(
          () => s"o_totalprice ${cmp(rng)} ${(rng.int(200) + 1) * 1000}",
          () => s"o_orderstatus = '${rng.pick(Seq("F", "O", "P"))}'")),
      ("events",
        Seq("event_type", "user_id"),
        Seq("value"),
        Seq(
          () => s"value ${cmp(rng)} ${rng.int(200)}",
          () => s"event_type = '${rng.pick(Seq("click", "view", "error", "signup", "purchase"))}'")),
      ("customer",
        Seq("c_mktsegment", "c_nationkey"),
        Seq("c_acctbal"),
        Seq(
          () => s"c_acctbal ${cmp(rng)} ${rng.int(9000)}",
          () => s"c_nationkey ${cmp(rng)} ${rng.int(25)}")))
    val (table, groupCols, numCols, filters) = rng.pick(tables)

    val nGroup = rng.int(2) + 1
    val gcols = Seq.fill(nGroup)(rng.pick(groupCols)).distinct
    val aggs = {
      val n = rng.int(3) + 1
      (0 until n).map { _ =>
        val c = rng.pick(numCols)
        rng.int(4) match {
          case 0 => s"count(*) AS agg_cnt"
          case 1 => s"round(sum($c), 2) AS agg_sum_$c"
          case 2 => s"min($c) AS agg_min_$c"
          case 3 => s"max($c) AS agg_max_$c"
        }
      }.distinct
    }
    val where =
      if (rng.int(3) == 0) ""
      else {
        val n = rng.int(2) + 1
        val conds = Seq.fill(n)(filters(rng.int(filters.size))())
        s"WHERE ${conds.mkString(s" ${rng.pick(Seq("AND", "OR"))} ")}"
      }
    val having = if (rng.int(4) == 0) "HAVING count(*) > 1" else ""
    val limit = if (rng.int(4) == 0) s"LIMIT ${rng.int(50) + 1}" else ""
    val orderBy = s"ORDER BY ${gcols.mkString(", ")}"
    s"""SELECT ${gcols.mkString(", ")}, ${aggs.mkString(", ")}
       |FROM $table $where
       |GROUP BY ${gcols.mkString(", ")} $having $orderBy $limit""".stripMargin
  }

  private def cmp(rng: Rng): String = rng.pick(Seq("<", "<=", ">", ">=", "="))

  /** Join-shaped fuzz: lineitem⋈orders(⋈customer) with group keys and
    * filters drawn from both sides.
    */
  private def genJoinQuery(rng: Rng): String = {
    val threeWay = rng.int(2) == 0
    val joins = "lineitem JOIN orders ON l_orderkey = o_orderkey" +
      (if (threeWay) " JOIN customer ON o_custkey = c_custkey" else "")
    val groupPool = Seq("l_returnflag", "o_orderstatus", "o_orderpriority") ++
      (if (threeWay) Seq("c_mktsegment") else Nil)
    val gcols = Seq.fill(rng.int(2) + 1)(rng.pick(groupPool)).distinct
    val aggs = Seq(
      "count(*) AS agg_cnt",
      rng.pick(Seq(
        "round(sum(l_quantity), 2) AS agg_sum_qty",
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS agg_rev",
        "min(o_totalprice) AS agg_min_price",
        "max(l_quantity) AS agg_max_qty")))
    val filterPool = Seq(
      () => s"l_quantity ${cmp(rng)} ${rng.int(50) + 1}",
      () => s"o_totalprice ${cmp(rng)} ${(rng.int(200) + 1) * 1000}",
      () => s"o_orderstatus = '${rng.pick(Seq("F", "O", "P"))}'") ++
      (if (threeWay) Seq(() => s"c_acctbal ${cmp(rng)} ${rng.int(9000)}") else Nil)
    val where =
      if (rng.int(3) == 0) ""
      else s"WHERE ${Seq.fill(rng.int(2) + 1)(filterPool(rng.int(filterPool.size))())
        .mkString(s" ${rng.pick(Seq("AND", "OR"))} ")}"
    s"""SELECT ${gcols.mkString(", ")}, ${aggs.mkString(", ")}
       |FROM $joins $where
       |GROUP BY ${gcols.mkString(", ")} ORDER BY ${gcols.mkString(", ")}""".stripMargin
  }

  /** Window-function fuzz: ranking (row_number/rank/dense_rank/ntile)
    * plus an analytic over a random frame — running/bounded ROWS
    * frames, lag/lead offsets, first_value — over a random
    * partition/order, deterministic via a unique tiebreak column.
    *
    * Frame SUM/AVG go through exact integer-cents arithmetic
    * (`CAST(round(x*100) AS BIGINT)`): sliding-frame float aggregation
    * is engine-dependent (DuckDB slides a running accumulator, Spark
    * recomputes the frame), so double sums land on opposite sides of a
    * rounding boundary ~1/100 queries. Integer sums are exact and the
    * single final division is IEEE-deterministic in both engines.
    * The AVG form additionally rounds in integer space
    * (`floor(cents_avg + 0.5) / 100`) because `round(double, 2)`
    * itself diverges on exact .xx5 strings: Spark rounds the shortest
    * decimal representation (BigDecimal.valueOf), DuckDB rounds the
    * binary value, so 4.435 → 4.44 vs 4.43 on IDENTICAL input bits.
    * lag/lead/first_value pass stored values through untouched, so
    * they stay genuinely raw — CAST AS DOUBLE unifies the result type
    * but NO round() wrapper, which would reintroduce the same .xx5
    * divergence on pass-through values.
    */
  private def genWindowQuery(rng: Rng): String = {
    val (table, uid, groupCols, numCol) = rng.pick(Seq(
      ("orders", "o_orderkey", Seq("o_orderstatus", "o_orderpriority"), "o_totalprice"),
      ("events", "event_id", Seq("event_type", "user_id"), "value"),
      ("customer", "c_custkey", Seq("c_mktsegment", "c_nationkey"), "c_acctbal")))
    val g = rng.pick(groupCols)
    val fn = rng.pick(Seq("row_number()", "rank()", "dense_rank()",
      s"ntile(${rng.int(5) + 2})"))
    val dir = rng.pick(Seq("ASC", "DESC"))
    val ord = s"PARTITION BY $g ORDER BY $numCol $dir, $uid"
    val k = rng.int(5) + 1
    val cents = s"CAST(round($numCol * 100) AS BIGINT)"
    val avgFrame = s"ROWS BETWEEN $k PRECEDING AND $k FOLLOWING"
    // each entry is already divergence-free: integer-cents sums need no
    // further rounding, pass-through values must not be rounded
    val analytic = rng.pick(Seq(
      s"sum($cents) OVER ($ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0",
      s"sum($cents) OVER ($ord ROWS BETWEEN $k PRECEDING AND CURRENT ROW) / 100.0",
      s"floor(sum($cents) OVER ($ord $avgFrame) * 1.0" +
        s" / count($numCol) OVER ($ord $avgFrame) + 0.5) / 100.0",
      s"lag($numCol, ${rng.int(3) + 1}) OVER ($ord)",
      s"lead($numCol, ${rng.int(3) + 1}) OVER ($ord)",
      s"first_value($numCol) OVER ($ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
    val topN = rng.int(15) + 1
    s"""SELECT $g, $uid, rnk, w_val FROM (
       |  SELECT $g, $uid,
       |    $fn OVER ($ord) AS rnk,
       |    CAST($analytic AS DOUBLE) AS w_val
       |  FROM $table)
       |WHERE rnk <= $topN ORDER BY $g, rnk, $uid""".stripMargin
  }

  /** Set-operation fuzz: UNION ALL / INTERSECT / EXCEPT of two
    * filtered projections of the same table, then a bounding sort.
    */
  private def genSetOpQuery(rng: Rng): String = {
    val (table, cols, numCol) = rng.pick(Seq(
      ("orders", Seq("o_orderstatus", "o_orderpriority"), "o_totalprice"),
      ("events", Seq("event_type", "user_id"), "value"),
      ("lineitem", Seq("l_returnflag", "l_linestatus"), "l_quantity")))
    val c = rng.pick(cols)
    val op = rng.pick(Seq("UNION ALL", "INTERSECT", "EXCEPT"))
    val t1 = s"$numCol ${cmp(rng)} ${rng.int(100) + 1}"
    val t2 = s"$numCol ${cmp(rng)} ${rng.int(100) + 1}"
    // aggregate afterwards so UNION ALL row multiplicity is still
    // deterministic in the compare
    s"""SELECT $c, count(*) AS n FROM (
       |  SELECT $c FROM $table WHERE $t1
       |  $op
       |  SELECT $c FROM $table WHERE $t2)
       |GROUP BY $c ORDER BY $c""".stripMargin
  }

  /** Scalar-function fuzz: string/arithmetic/CASE projections in the
    * shared dialect, deterministic via unique-id ORDER BY.
    */
  private def genScalarQuery(rng: Rng): String = {
    val (table, uid, strCol, numCol) = rng.pick(Seq(
      ("orders", "o_orderkey", "o_orderpriority", "o_totalprice"),
      ("customer", "c_custkey", "c_mktsegment", "c_acctbal"),
      ("events", "event_id", "event_type", "value")))
    val exprs = Seq(
      s"upper($strCol) AS e_upper",
      s"lower($strCol) AS e_lower",
      s"length($strCol) AS e_len",
      s"substr($strCol, 1, ${rng.int(3) + 1}) AS e_sub",
      s"concat($strCol, '_', '${rng.pick(Seq("x", "y", "z"))}') AS e_cat",
      s"round(abs($numCol) + ${rng.int(10)}, 2) AS e_arith",
      s"CASE WHEN $numCol ${cmp(rng)} ${rng.int(100)} THEN 'hi' ELSE 'lo' END AS e_case",
      s"round(least($numCol, ${rng.int(1000)}) + greatest($numCol, ${rng.int(50)}), 2) AS e_minmax")
    val picked = Seq.fill(rng.int(3) + 2)(rng.pick(exprs)).distinct
    val lim = rng.int(200) + 50
    s"""SELECT $uid, ${picked.mkString(", ")} FROM $table
       |ORDER BY $uid LIMIT $lim""".stripMargin
  }

  /** Grouping-sets fuzz: ROLLUP/CUBE with sentinel-coalesced keys (so
    * the subtotal NULLs compare identically across engines).
    */
  private def genRollupQuery(rng: Rng): String = {
    val (table, g1, g2, numCol) = rng.pick(Seq(
      ("orders", "o_orderstatus", "o_orderpriority", "o_totalprice"),
      ("lineitem", "l_returnflag", "l_linestatus", "l_quantity"),
      ("events", "event_type", "user_id", "value")))
    val op = rng.pick(Seq("ROLLUP", "CUBE"))
    // string-cast inside the coalesce: numeric group keys (user_id)
    // otherwise force the sentinel into a numeric cast, which ANSI
    // Spark rejects
    s"""SELECT coalesce(CAST($g1 AS STRING), '_all_') AS g1,
       |  coalesce(CAST($g2 AS STRING), '_all_') AS g2,
       |  count(*) AS n, round(sum($numCol), 2) AS s
       |FROM $table GROUP BY $op($g1, $g2)
       |ORDER BY g1, g2""".stripMargin
  }

  /** Correlated-subquery fuzz: EXISTS / NOT EXISTS / IN semi-join
    * shapes over the orders↔lineitem and customer↔orders keys.
    */
  private def genSubqueryQuery(rng: Rng): String = {
    val shapes = Seq(
      () => {
        val q = rng.int(45) + 5
        val op = rng.pick(Seq("EXISTS", "NOT EXISTS"))
        s"""SELECT o_orderpriority, count(*) AS n FROM orders
           |WHERE $op (SELECT 1 FROM lineitem
           |           WHERE l_orderkey = o_orderkey AND l_quantity > $q)
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
      },
      () => {
        val b = (rng.int(150) + 50) * 1000
        s"""SELECT c_mktsegment, count(*) AS n FROM customer
           |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > $b)
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
      },
      () => {
        val s = rng.pick(Seq("F", "O", "P"))
        s"""SELECT l_returnflag, round(sum(l_quantity), 2) AS s FROM lineitem
           |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
           |                         WHERE o_orderstatus = '$s')
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
      })
    shapes(rng.int(shapes.size))()
  }

  /** Kernel-function fuzz: the registered SQL surface
    * ([[graft.sql.SqlFunctions]]) over the documents table —
    * `fuzz_check.py` defines DuckDB MACROS restating each kernel's
    * formula, so hundreds of machine-generated compositions
    * differential-test the function bindings, not just q142's one
    * hand-written query. Aggregates stay order-independent (count,
    * integral sums, min/max) — float avg across many rows is the one
    * known cross-engine divergence class; per-doc rounded doubles are
    * safe because both engines compute them from identical bits on
    * this fixed corpus (the q55/q40 precedent).
    */
  private def genKernelFnQuery(rng: Rng): String = {
    val where =
      if (rng.int(3) == 0) ""
      else s"WHERE n_chars ${cmp(rng)} ${rng.int(2000) + 50}"
    if (rng.int(2) == 0) {
      // shape A: per-document projections
      val exprs = Seq(
        "estimate_tokens(text) AS k_est",
        "token_count(text) AS k_tok",
        "sentiment_score(text) AS k_snt",
        "quality_score(text) AS k_q",
        "lang_id(text) AS k_lang")
      val picked = Seq.fill(rng.int(3) + 2)(rng.pick(exprs)).distinct
      val lim = rng.int(150) + 50
      s"""SELECT doc_id, ${picked.mkString(", ")} FROM documents
         |$where ORDER BY doc_id LIMIT $lim""".stripMargin
    } else {
      // shape B: grouped, order-independent aggregates only
      val g = rng.pick(Seq("source", "lang", "lang_id(text)"))
      val aggs = {
        val pool = Seq(
          "count(*) AS n",
          "CAST(sum(estimate_tokens(text)) AS BIGINT) AS s_est",
          "CAST(sum(token_count(text)) AS BIGINT) AS s_tok",
          "round(min(quality_score(text)), 4) AS min_q",
          "round(max(quality_score(text)), 4) AS max_q",
          "round(min(sentiment_score(text)), 4) AS min_snt",
          "round(max(sentiment_score(text)), 4) AS max_snt")
        Seq.fill(rng.int(3) + 2)(rng.pick(pool)).distinct
      }
      s"""SELECT $g AS g, ${aggs.mkString(", ")} FROM documents
         |$where GROUP BY $g ORDER BY g""".stripMargin
    }
  }

  /** Distinct-projection fuzz. */
  private def genDistinctQuery(rng: Rng): String = {
    val (table, cols) = rng.pick(Seq(
      ("lineitem", Seq("l_returnflag", "l_linestatus", "l_linenumber")),
      ("orders", Seq("o_orderstatus", "o_orderpriority")),
      ("events", Seq("event_type", "user_id"))))
    val picked = Seq.fill(rng.int(2) + 1)(rng.pick(cols)).distinct
    s"""SELECT DISTINCT ${picked.mkString(", ")} FROM $table
       |ORDER BY ${picked.mkString(", ")}""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 200
    val spark = graft.core.Engine.session("graft-fuzz", cores = 16)
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Engine.open(spark, sfDir)
    graft.sql.SqlFunctions.register(spark) // the kernel-fn class needs them
    new java.io.File(outDir).mkdirs()

    val queries = (0 until n).map { i =>
      val rng = Rng(0xC0FFEE + i.toLong * 7919)
      val sql = rng.int(10) match {
        case 0 => genJoinQuery(rng)
        case 1 if i % 8 == 1 => genDistinctQuery(rng)
        case 4 => genWindowQuery(rng)
        case 5 => genSetOpQuery(rng)
        case 6 => genScalarQuery(rng)
        case 7 => genRollupQuery(rng)
        case 8 => genSubqueryQuery(rng)
        case 9 => genKernelFnQuery(rng)
        case _ => genQuery(rng)
      }
      s"fz_%03d".format(i) -> sql
    }
    var failures = 0
    queries.foreach { case (name, sql) =>
      try graft.sql.QueryGate.sql(spark, sql).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[fuzz] $name failed: ${e.getMessage.linesIterator.next()}")
      }
    }
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    Files.writeString(Paths.get(s"$outDir/fuzz_sql.json"),
      queries.map { case (k, v) => s""""$k": "${esc(v)}"""" }.mkString("{", ",", "}"))
    println(s"[fuzz] generated ${queries.size}, spark-side failures: $failures")
    spark.stop()
  }
}
