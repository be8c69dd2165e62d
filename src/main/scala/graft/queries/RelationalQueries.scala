package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{customer, documents, events, lineitem, nation, orders, part, region, supplier}
import graft.operators.{Analytics, Graph, Guards, Incremental, Linkage, Profile, Relational, TextAnalysis, Timeseries}

/** Relational surface: joins, aggregations and window functions, plus the
  * time-series, graph, linkage, sketch and corpus-statistics queries built
  * on them.
  */
object RelationalQueries {

  /** LONG-coded trade-graph vertex ids (r22, guide §2.3 — narrower keys):
    * supplier k ↦ 2k, customer k ↦ 2k+1 — a bijection into disjoint even/
    * odd longs, so the coded graph is isomorphic to the "s<k>"/"c<k>"
    * string graph and every id-value-independent computation over it
    * (rank sums, hop counts, min-costs, degrees) produces identical
    * per-vertex numbers while the distinct/join/agg exchanges carry and
    * hash 8-byte longs instead of strings. [[tradeVertexStr]] restores
    * the public string form at output. NOT used where the algorithm
    * compares vertex ids themselves across the s/c namespaces (e.g.
    * graph_components' min-label winner is defined on the string order).
    *
    * Key envelope: 0 ≤ key < 2^62. A larger key wraps under non-ANSI LONG
    * arithmetic and a negative one breaks the even/odd split; nothing
    * checks this at run time (TPC-H keys sit many orders of magnitude
    * below). The gate that covers it is the oracle hash check
    * (`scripts/check_oracle.py`): the graph_pagerank, graph_reach,
    * graph_sssp and graph_kcore oracles build the "s<k>"/"c<k>" ids from
    * the raw keys in DuckDB, so a wrapped or colliding code fails the
    * compare.
    */
  private def supplierVertex(k: Column): Column = k * 2
  private def customerVertex(k: Column): Column = k * 2 + 1
  private def tradeVertexStr(v: Column): Column =
    concat(when(v.bitwiseAND(lit(1L)) === 0L, lit("s")).otherwise(lit("c")),
      shiftright(v, 1).cast("string"))

  /** Merge table captured by the text_bpe_tokens run — deterministic given
    * the corpus (tie-broken argmax, sorted frequency head), and `oracleSql`
    * is evaluated AFTER the query loop in Verify, so the generated oracle's
    * literals always describe the same table the Spark plan encoded with.
    */
  @volatile private var bpeTrainedMerges: Seq[(String, String)] = Seq.empty
  @volatile private var unigramTrainedPieces: Seq[(String, Double)] = Seq.empty
  @volatile private var unigramMaxWordLen: Int = 1

  /** Blocklist for `text_blocklist` — fixed phrases (the bounded-artifact
    * pattern), shared verbatim by the query and its oracle SQL. "merge" is
    * nested inside "merge batch" and "quantum flux" never occurs.
    */
  private val blocklistPatterns: Seq[String] = Seq(
    "merge batch", "merge", "slow scan", "row fast", "vector", "quantum flux")

  /** DuckDB replay of greedy BPE encoding under [[bpeTrainedMerges]].
    *
    * Equivalence: [[graft.functions.BpeEncode.encodeWord]] merges the
    * lowest-rank pair one occurrence at a time; because a pair of rank r
    * can only ever be CREATED by merges of rank < r (its symbols must
    * exist when it is learned — training would have assigned it an
    * earlier rank otherwise), that is identical to applying the merges
    * once each in rank order as left-to-right non-overlapping
    * replace-alls. Each word becomes `~c~` per char (`~` cannot occur in
    * a `[a-z0-9]+` word), so the pair pattern `~a~~b~` matches exactly a
    * full-symbol adjacency — never inside a symbol, never sharing a
    * delimiter with a neighboring occurrence — and one `replace` per
    * merge is the whole encode. Symbol count = half the `~` count.
    */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    val start = "concat('~', array_to_string(regexp_extract_all(w, '.'), '~~'), '~')"
    val folded = merges.foldLeft(start) { case (acc, (a, b)) =>
      val qa = a.replace("'", "''")
      val qb = b.replace("'", "''")
      s"replace($acc, '~$qa~~$qb~', '~$qa$qb~')"
    }
    s"""WITH words AS (
       |  SELECT source, doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT source, doc_id,
       |         $folded AS s
       |  FROM words),
       |perdoc AS (
       |  SELECT source, doc_id,
       |         sum((length(s) - length(replace(s, '~', ''))) // 2)::BIGINT AS bpe
       |  FROM enc GROUP BY 1, 2),
       |base AS (
       |  SELECT source, doc_id,
       |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS ws
       |  FROM documents)
       |SELECT base.source, count(*)::BIGINT AS n_docs,
       |       sum(base.ws)::BIGINT AS ws_tokens,
       |       sum(coalesce(perdoc.bpe, 0))::BIGINT AS bpe_tokens
       |FROM base LEFT JOIN perdoc
       |  ON base.source = perdoc.source AND base.doc_id = perdoc.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB replay of unigram-LM Viterbi segmentation under
    * [[unigramTrainedPieces]]: the trained piece table is the embedded
    * model artifact (the bpe-merge/ewma-weight literal pattern) and the
    * DP itself is INDEPENDENTLY re-run in SQL — one unrolled stage per
    * word position, each taking the lexicographic max of
    * (score, piece_len, count) over candidate pieces, OOV single chars as
    * regular nodes at the kernel's min−10 unk score. The hash gate
    * compares integer token counts; a count flip would need two EM-fitted
    * double path sums exactly equal AND different segment counts — the
    * accepted measure-zero class (and the (score, len) tiebreak mirrors
    * the kernel's longest-piece rule regardless).
    */
  private def unigramOracleSql(pieces: Seq[(String, Double)], maxWordLen: Int): String = {
    // oracleSql is dumped after Verify runs the queries, so the trained
    // table is populated; the placeholder only guards a pre-run access
    if (pieces.isEmpty) return "SELECT 'queries not yet run' AS placeholder"
    val maxPieceLen = pieces.map(_._1.length).max
    def dlit(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
    val unk = dlit(pieces.map(_._2).min - 10.0)
    val vals = pieces
      .map { case (p, lp) => s"('${p.replace("'", "''")}', ${dlit(lp)})" }
      .mkString(",\n    ")
    val stages = (1 to maxWordLen).map { i =>
      val cands = (1 to math.min(maxPieceLen, i)).map { k =>
        val j = i - k
        if (k == 1)
          s"""    SELECT d.w, d.best + COALESCE(p.lp, $unk) AS nb, 1 AS k, d.cnt + 1 AS nc
             |    FROM dp$j d LEFT JOIN pieces p ON p.p = substr(d.w, $i, 1)
             |    WHERE length(d.w) >= $i""".stripMargin
        else
          s"""    SELECT d.w, d.best + p.lp AS nb, $k AS k, d.cnt + 1 AS nc
             |    FROM dp$j d JOIN pieces p ON p.p = substr(d.w, ${j + 1}, $k)
             |    WHERE length(d.w) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""dp$i AS (
         |  SELECT w, m['b'] AS best, m['c'] AS cnt FROM (
         |    SELECT w, max(struct_pack(b := nb, k := k, c := nc)) AS m FROM (
         |$cands
         |    ) GROUP BY w)
         |)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxWordLen)
      .map(i => s"  SELECT w, cnt FROM dp$i WHERE length(w) = $i")
      .mkString("\n  UNION ALL\n")
    s"""WITH pieces(p, lp) AS (VALUES
       |    $vals),
       |dw AS (
       |  SELECT source, doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS w
       |  FROM documents),
       |words AS (SELECT DISTINCT w FROM dw),
       |dp0 AS (SELECT w, CAST(0.0 AS DOUBLE) AS best, 0 AS cnt FROM words),
       |$stages,
       |wcnt AS (
       |$finals),
       |perdoc AS (
       |  SELECT source, doc_id, sum(cnt)::BIGINT AS uni
       |  FROM dw JOIN wcnt USING (w) GROUP BY 1, 2),
       |base AS (
       |  SELECT source, doc_id,
       |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS ws
       |  FROM documents)
       |SELECT base.source, count(*)::BIGINT AS n_docs,
       |       sum(base.ws)::BIGINT AS ws_tokens,
       |       sum(coalesce(perdoc.uni, 0))::BIGINT AS uni_tokens
       |FROM base LEFT JOIN perdoc
       |  ON base.source = perdoc.source AND base.doc_id = perdoc.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** DuckDB mirror of [[Analytics.ewma]]: weight literals printed from the
    * SAME `math.pow(1-α, j)` doubles the Spark plan embeds (Double.toString
    * round-trips through DuckDB's literal parser to the identical bits) and
    * terms summed in the same ascending-j association order.
    */
  private def ewmaOracleSql(alpha: Double, horizon: Int): String = {
    val lagCols = (0 until horizon).map { j =>
      if (j == 0) "xu AS x0" else s"lag(xu, $j) OVER w AS x$j"
    }.mkString(", ")
    def w(j: Int) = java.lang.Double.toString(math.pow(1 - alpha, j))
    val num = (0 until horizon)
      .map(j => s"(CASE WHEN x$j IS NOT NULL THEN ${w(j)} * x$j ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until horizon)
      .map(j => s"(CASE WHEN x$j IS NOT NULL THEN ${w(j)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
       |         CAST(round(value * 10000, 0) AS BIGINT) AS xu
       |  FROM events),
       |l AS (
       |  SELECT event_id, user_id, $lagCols
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT event_id, user_id,
       |       round(($num) / ($den) / 10000.0, 4) AS ewma
       |FROM l
       |WHERE event_id % 20 = 0
       |ORDER BY event_id""".stripMargin
  }

  /** DuckDB mirror of [[Graph.pageRank]]: the same integer recurrence
    * unrolled as one CTE pair (contribs, ranks) per iteration. Exact BIGINT
    * arithmetic end-to-end — both engines produce identical ranks.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val s = Graph.Scale
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT ed.dst, sum(r.rank_e12 // deg.outdeg)::BIGINT AS s
         |  FROM ed JOIN r${i - 1} r ON ed.src = r.vertex
         |          JOIN deg ON ed.src = deg.src
         |  GROUP BY 1),
         |d$i AS (
         |  SELECT coalesce(sum(r.rank_e12), 0)::BIGINT AS dmass
         |  FROM r${i - 1} r LEFT JOIN deg ON r.vertex = deg.src
         |  WHERE deg.src IS NULL),
         |r$i AS (
         |  SELECT v.vertex,
         |         (((15 * $s) // 100) // nv.n
         |          + (85 * (coalesce(c$i.s, 0) + d$i.dmass // nv.n)) // 100)::BIGINT
         |           AS rank_e12
         |  FROM v CROSS JOIN nv CROSS JOIN d$i
         |       LEFT JOIN c$i ON v.vertex = c$i.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 's' || l.l_suppkey::VARCHAR AS src,
       |                  'c' || o.o_custkey::VARCHAR AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |ed AS (SELECT src, dst FROM e0
       |       UNION SELECT dst AS src, src AS dst FROM e0),
       |v AS (SELECT src AS vertex FROM ed UNION SELECT dst FROM ed),
       |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM ed GROUP BY 1),
       |nv AS (SELECT count(*)::BIGINT AS n FROM v),
       |r0 AS (SELECT vertex, ($s // n)::BIGINT AS rank_e12 FROM v, nv),
       |$iterCtes
       |SELECT vertex, rank_e12 FROM r$iters ORDER BY vertex""".stripMargin
  }

  /** DuckDB mirror of [[Graph.ssspBounded]]: Bellman-Ford unrolled as one
    * full-relaxation CTE per round (the frontier restriction is a pure
    * optimization — labels after round r are identical). Integer cents
    * end-to-end.
    */
  private def ssspOracleSql(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT vertex, min(dist)::BIGINT AS dist FROM (
         |    SELECT vertex, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT ed.dst AS vertex, d${i - 1}.dist + ed.w AS dist
         |    FROM d${i - 1} JOIN ed ON d${i - 1}.vertex = ed.src) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT 's' || l.l_suppkey::VARCHAR AS src,
       |         'c' || o.o_custkey::VARCHAR AS dst,
       |         min(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)) AS w
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |ed AS (SELECT src, dst, w FROM e0
       |       UNION ALL SELECT dst, src, w FROM e0),
       |d0 AS (SELECT DISTINCT 's' || s_suppkey::VARCHAR AS vertex,
       |              0::BIGINT AS dist
       |       FROM supplier WHERE s_suppkey % 10 = 0),
       |$iter
       |SELECT vertex, dist FROM d$rounds ORDER BY vertex""".stripMargin
  }

  /** DuckDB mirror of [[Graph.kCore]]: the peel unrolled as one
    * (degrees, bad, surviving-edges) CTE triple per round — a no-op round
    * once the fixpoint arrives, so the round count is a contract, not a
    * convergence bet.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val roundCtes = (0 until rounds).map { i =>
      s"""d$i AS (
         |  SELECT v, count(*)::BIGINT AS d
         |  FROM (SELECT lo AS v FROM e$i UNION ALL SELECT hi FROM e$i)
         |  GROUP BY 1),
         |b$i AS (SELECT v FROM d$i WHERE d < $k),
         |e${i + 1} AS (
         |  SELECT lo, hi FROM e$i
         |  WHERE lo NOT IN (SELECT v FROM b$i)
         |    AND hi NOT IN (SELECT v FROM b$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o.o_custkey::VARCHAR AS lo,
       |                  's' || l.l_suppkey::VARCHAR AS hi
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  WHERE l.l_quantity >= 45),
       |$roundCtes,
       |df AS (
       |  SELECT v, count(*)::BIGINT AS d
       |  FROM (SELECT lo AS v FROM e$rounds UNION ALL SELECT hi FROM e$rounds)
       |  GROUP BY 1)
       |SELECT v AS vertex, d AS degree FROM df WHERE d >= $k
       |ORDER BY vertex""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // Partial+final hash aggregation, TPC-H Q1 shape.
    QuerySpec("q1_agg", (s, dir) => {
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1995-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      oracle = Some(
        """SELECT l_returnflag, l_linestatus,
          |       round(sum(l_quantity), 2) AS sum_qty,
          |       round(sum(l_extendedprice), 2) AS sum_base_price,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |       round(avg(l_quantity), 4) AS avg_qty,
          |       round(avg(l_discount), 4) AS avg_disc,
          |       count(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1995-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Multi-way join; small dims broadcast explicitly.
    QuerySpec("q_join_broadcast", (s, dir) => {
      orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
      oracle = Some(
        """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name
          |ORDER BY r_name, n_name""".stripMargin)),

    // Bloom-pruned shuffle join (semi-join reduction): the dim side is a
    // selective filter of orders whose KEYS build a Bloom sketch; fact
    // rows failing the sketch die at the scan and never enter the join
    // exchange. No false negatives → result ≡ the plain join the oracle
    // runs. Integer-exact revenue (price and discount carried as scaled
    // longs) so the sum is order-independent across engines.
    QuerySpec("q_join_bloom_pruned", (s, dir) => {
      val dim = orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      Relational.bloomPrunedJoin(
          lineitem(s, dir)
            .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          col("l_orderkey"), dim, col("o_orderkey"))
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("month"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(10000L) - round(col("l_discount") * 10000, 0).cast("long")))
            .as("revenue_u"))
        .orderBy(col("month"))
    },
      // plain join: the Bloom prune is invisible to the result (no false
      // negatives; join removes false positives)
      oracle = Some(
        """SELECT year(o.o_orderdate) * 100 + month(o.o_orderdate) AS month,
          |       count(*)::BIGINT AS n_items,
          |       sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
          |           * (10000 - CAST(round(l.l_discount * 10000, 0) AS BIGINT)))::BIGINT
          |         AS revenue_u
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_orderpriority = '1-URGENT'
          |GROUP BY 1
          |ORDER BY 1""".stripMargin)),

    // Left-semi join (EXISTS).
    QuerySpec("q_semi_join", (s, dir) => {
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .orderBy(col("c_mktsegment"))
    },
      oracle = Some(
        """SELECT c_mktsegment, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
          |FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)),

    // Left-anti join (NOT EXISTS): customers with no 1995 orders.
    QuerySpec("q_anti_join", (s, dir) => {
      customer(s, dir)
        .join(orders(s, dir).filter(year(col("o_orderdate")) === 1995),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"))
    },
      oracle = Some(
        """SELECT n_name, count(*) AS n_customers
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)),

    // Ranking window function: top-3 parts per brand.
    QuerySpec("q_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      part(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("p_brand"), col("rnk"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"))
    },
      note = Some(
        "ranking window = exchange + sort of every row before the rank filter. " +
          "Scale path: q_topk_per_group_agg (TopKPairs bounded-heap agg, map-side combine, " +
          "<= k rows per (group, partition) through the exchange)."),
      oracle = Some(
        """SELECT p_brand, rnk, p_partkey, p_retailprice
          |FROM (SELECT p_brand, p_partkey, p_retailprice,
          |             row_number() OVER (PARTITION BY p_brand
          |                                ORDER BY p_retailprice DESC, p_partkey) AS rnk
          |      FROM part)
          |WHERE rnk <= 3
          |ORDER BY p_brand, rnk""".stripMargin)),

    // Scale companion to q_topk_per_group: the SAME result through the
    // graft.functions.TopKPairs bounded-heap aggregate — a hash agg with
    // map-side combine instead of a partition-wide ranking-window sort.
    // At scale the exchange carries <= k rows per (group, input
    // partition) instead of every row of the table; identical tie order
    // (score desc, id asc), so the oracle SQL is the window form's.
    QuerySpec("q_topk_per_group_agg", (s, dir) => {
      part(s, dir)
        .groupBy(col("p_brand"))
        .agg(graft.functions.TopKPairs.topK(
          col("p_retailprice"), col("p_partkey"), 3).as("t"))
        .select(col("p_brand"), posexplode(col("t")).as(Seq("pos0", "p")))
        .select(col("p_brand"), (col("pos0") + 1).as("rnk"),
          col("p.id").as("p_partkey"), col("p.score").as("p_retailprice"))
        .orderBy(col("p_brand"), col("rnk"))
    },
      oracle = Some(
        """SELECT p_brand, rnk, p_partkey, p_retailprice
          |FROM (SELECT p_brand, p_partkey, p_retailprice,
          |             row_number() OVER (PARTITION BY p_brand
          |                                ORDER BY p_retailprice DESC, p_partkey) AS rnk
          |      FROM part)
          |WHERE rnk <= 3
          |ORDER BY p_brand, rnk""".stripMargin)),

    // Analytic window functions with explicit ROWS frame.
    QuerySpec("q_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("running_total",
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_price", round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2))
        .withColumn("rn", row_number().over(w))
        .select(col("o_orderkey"), col("o_custkey"), col("running_total"),
          col("prev_price"), col("rn"))
        .orderBy(col("o_orderkey"))
    },
      oracle = Some(
        """SELECT o_orderkey, o_custkey,
          |       round(sum(o_totalprice) OVER w_frame, 2) AS running_total,
          |       round(coalesce(lag(o_totalprice, 1) OVER w, 0), 2) AS prev_price,
          |       row_number() OVER w AS rn
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          |       w_frame AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY o_orderkey""".stripMargin)),

    // Value window functions (first/last/nth over an explicit full-
    // partition frame) — per-key windows shard by customer, money in
    // integer cents. A customer's second-ever order is NULL for singleton
    // histories → sentinel -1 (oracle hash never sees a NULL).
    QuerySpec("q_window_value_fns", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, dir)
        .withColumn("price_c", round(col("o_totalprice") * 100, 0).cast("long"))
        .withColumn("first_c", first(col("price_c")).over(full))
        .withColumn("last_c", last(col("price_c")).over(full))
        .withColumn("second_c", coalesce(nth_value(col("price_c"), 2).over(full), lit(-1L)))
        .select(col("o_orderkey"), col("o_custkey"), col("price_c"),
          col("first_c"), col("last_c"), col("second_c"))
        .orderBy(col("o_orderkey"))
    },
      oracle = Some(
        """SELECT o_orderkey, o_custkey,
          |       round(o_totalprice * 100)::BIGINT AS price_c,
          |       first_value(round(o_totalprice * 100)::BIGINT) OVER wf AS first_c,
          |       last_value(round(o_totalprice * 100)::BIGINT) OVER wf AS last_c,
          |       coalesce(nth_value(round(o_totalprice * 100)::BIGINT, 2) OVER wf, -1)::BIGINT AS second_c
          |FROM orders
          |WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q3 shape (shipping priority): selective filters on all three
    // inputs reach the scans, the small filtered dimension broadcasts,
    // and the final top-10 plans as TakeOrderedAndProject — per-partition
    // heaps, never a materialized global sort (plan-asserted). Revenue in
    // integer micro-units (cents × basis points), exact cross-engine.
    QuerySpec("q_shipping_priority", (s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      lineitem(s, dir).filter(col("l_shipdate") > cut)
        .join(orders(s, dir).filter(col("o_orderdate") < cut),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long") *
          (lit(10000L) - round(col("l_discount") * 10000, 0).cast("long"))).as("revenue_u"))
        .orderBy(col("revenue_u").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("o_orderpriority"), col("revenue_u"))
    },
      oracle = Some(
        """SELECT l_orderkey, o_orderpriority,
          |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
          |                (10000 - CAST(round(l_discount * 10000) AS BIGINT))) AS BIGINT)
          |         AS revenue_u
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND l_shipdate > TIMESTAMP '1998-01-01'
          |GROUP BY l_orderkey, o_orderpriority
          |ORDER BY revenue_u DESC, l_orderkey
          |LIMIT 10""".stripMargin)),

    // Distribution window functions: percent_rank / cume_dist / ntile
    // over a total order (unique tie-break), so every value is a single
    // integer division — bit-identical cross-engine. The window computes
    // over FULL partitions; the output filter only bounds result size.
    QuerySpec("q_window_dist", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, dir)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("nt", ntile(10).over(w).cast("long"))
        .filter(pmod(col("o_orderkey"), lit(100)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("pr"), col("cd"), col("nt"))
        .orderBy(col("o_orderkey"))
    },
      oracle = Some(
        """SELECT o_orderkey, o_orderpriority, pr, cd, nt
          |FROM (SELECT o_orderkey, o_orderpriority,
          |             percent_rank() OVER w AS pr,
          |             cume_dist()   OVER w AS cd,
          |             ntile(10)     OVER w AS nt
          |      FROM orders
          |      WINDOW w AS (PARTITION BY o_orderpriority
          |                   ORDER BY o_totalprice, o_orderkey))
          |WHERE o_orderkey % 100 = 0
          |ORDER BY o_orderkey""".stripMargin)),

    // Global sort + limit (top-k).
    QuerySpec("q_sort_limit", (s, dir) => {
      orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      oracle = Some(
        """SELECT o_orderkey, o_totalprice
          |FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 20""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT / UNION on distinct key sets.
    QuerySpec("q_set_ops", (s, dir) => {
      def keys(st: String) =
        orders(s, dir).filter(col("o_orderstatus") === st).select(col("o_custkey")).distinct()
      def counted(df: DataFrame, opName: String) =
        df.agg(count(lit(1)).as("n")).select(lit(opName).as("op"), col("n"))
      counted(keys("O").intersect(keys("F")), "intersect")
        .union(counted(keys("O").except(keys("F")), "except"))
        .union(counted(keys("O").union(keys("F")).distinct(), "union"))
        .orderBy(col("op"))
    },
      oracle = Some(
        """SELECT 'intersect' AS op, count(*) AS n FROM (
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |  INTERSECT
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
          |UNION ALL
          |SELECT 'except' AS op, count(*) AS n FROM (
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |  EXCEPT
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
          |UNION ALL
          |SELECT 'union' AS op, count(*) AS n FROM (
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
          |  UNION
          |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
          |ORDER BY op""".stripMargin)),

    // UNPIVOT (wide→long melt) through Spark's native unpivot operator;
    // measures are pre-scaled to integer micro-units so the per-metric
    // totals are integer-exact cross-engine. Oracle is the portable
    // UNION ALL formulation of the same melt.
    QuerySpec("q_unpivot", (s, dir) => {
      lineitem(s, dir)
        .select(
          col("l_returnflag"),
          round(col("l_quantity") * 100, 0).cast("long").as("quantity_c"),
          round(col("l_discount") * 10000, 0).cast("long").as("discount_bp"),
          round(col("l_tax") * 10000, 0).cast("long").as("tax_bp"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("quantity_c"), col("discount_bp"), col("tax_bp")),
          "metric", "v")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .orderBy(col("l_returnflag"), col("metric"))
    },
      oracle = Some(
        """SELECT l_returnflag, metric, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
          |FROM (
          |  SELECT l_returnflag, 'quantity_c' AS metric,
          |         CAST(round(l_quantity * 100) AS BIGINT) AS v FROM lineitem
          |  UNION ALL
          |  SELECT l_returnflag, 'discount_bp',
          |         CAST(round(l_discount * 10000) AS BIGINT) FROM lineitem
          |  UNION ALL
          |  SELECT l_returnflag, 'tax_bp',
          |         CAST(round(l_tax * 10000) AS BIGINT) FROM lineitem)
          |GROUP BY l_returnflag, metric
          |ORDER BY l_returnflag, metric""".stripMargin)),

    // Conditional / filtered aggregation: count_if, bool_and/bool_or, and
    // a FILTER-style conditional max (max is comparison-only, so the raw
    // double is cross-engine exact — no rounding needed).
    QuerySpec("q_conditional_agg", (s, dir) => {
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          count_if(col("c_acctbal") > 0).as("n_pos"),
          bool_or(col("c_mktsegment") === "BUILDING").as("any_building"),
          bool_and(col("c_acctbal") > 0).as("all_pos"),
          max(when(col("c_mktsegment") === "BUILDING", col("c_acctbal"))).as("max_building_bal"))
        .orderBy(col("n_name"))
    },
      oracle = Some(
        """SELECT n_name,
          |       count(*) AS n_cust,
          |       count(*) FILTER (WHERE c_acctbal > 0) AS n_pos,
          |       bool_or(c_mktsegment = 'BUILDING') AS any_building,
          |       bool_and(c_acctbal > 0) AS all_pos,
          |       max(c_acctbal) FILTER (WHERE c_mktsegment = 'BUILDING') AS max_building_bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)),

    // Correlated scalar subquery — Catalyst de-correlates it into an
    // aggregate + join (no per-row re-execution, unlike the reference's
    // per-message Python callbacks). min() is comparison-only and ×2 is
    // exact IEEE, so the predicate is bit-stable cross-engine and
    // run-to-run (an avg() here would make the boundary summation-order
    // dependent — the q_outliers_mad failure class).
    QuerySpec("q_scalar_subquery", (s, dir) => {
      orders(s, dir).createOrReplaceTempView("graft_sq_orders")
      s.sql("""SELECT o_orderpriority, count(*) AS n_big
              |FROM graft_sq_orders o
              |WHERE o_totalprice > 2 * (SELECT min(o2.o_totalprice)
              |                          FROM graft_sq_orders o2
              |                          WHERE o2.o_custkey = o.o_custkey)
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    },
      note = Some(
        "the correlated scalar subquery is de-correlated by Catalyst into an aggregate + " +
          "equi-join — the plan must show one agg over orders joined back on o_custkey, " +
          "never a per-row subquery re-execution."),
      oracle = Some(
        """SELECT o_orderpriority, count(*) AS n_big
          |FROM orders o
          |WHERE o_totalprice > 2 * (SELECT min(o2.o_totalprice)
          |                          FROM orders o2
          |                          WHERE o2.o_custkey = o.o_custkey)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // Z-order (Morton) clustering arithmetic: bucket census over the
    // interleaved bits of two join keys — pure integer shift/mask, exact
    // in any engine. The write-side twin (Layout.zorderWrite) has its
    // both-dimensions-bounded locality property asserted in ScalaTest;
    // this query oracle-pins the curve arithmetic itself.
    QuerySpec("q_zorder_cluster", (s, dir) => {
      lineitem(s, dir)
        .withColumn("z_bucket",
          shiftright(graft.sources.Layout.zValue(col("l_partkey"), col("l_suppkey"), 6), 6)
            .cast("long"))
        .groupBy(col("z_bucket"))
        .agg(count(lit(1)).as("n"),
          min(pmod(col("l_partkey"), lit(64))).as("min_x"),
          max(pmod(col("l_partkey"), lit(64))).as("max_x"),
          min(pmod(col("l_suppkey"), lit(64))).as("min_y"),
          max(pmod(col("l_suppkey"), lit(64))).as("max_y"))
        .orderBy(col("z_bucket"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y FROM lineitem),
          |z AS (
          |  SELECT x, y,
          |         (((x >> 0) & 1) * 1    + ((y >> 0) & 1) * 2
          |        + ((x >> 1) & 1) * 4    + ((y >> 1) & 1) * 8
          |        + ((x >> 2) & 1) * 16   + ((y >> 2) & 1) * 32
          |        + ((x >> 3) & 1) * 64   + ((y >> 3) & 1) * 128
          |        + ((x >> 4) & 1) * 256  + ((y >> 4) & 1) * 512
          |        + ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048) AS zv
          |  FROM b)
          |SELECT zv >> 6 AS z_bucket, count(*) AS n,
          |       min(x) AS min_x, max(x) AS max_x,
          |       min(y) AS min_y, max(y) AS max_y
          |FROM z
          |GROUP BY z_bucket
          |ORDER BY z_bucket""".stripMargin)),

    // Distinct aggregation.
    QuerySpec("q_distinct_agg", (s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
      oracle = Some(
        """SELECT event_type,
          |       count(DISTINCT user_id) AS n_users,
          |       count(*) AS n_events,
          |       round(sum(value), 2) AS sum_value
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin)),

    // HLL approximate distinct — no DuckDB oracle (sketch-dependent);
    // accuracy asserted against exact counts in ScalaTest. Spark's HLL++
    // has NO exact regime (register estimation approximates at any
    // cardinality), so this entry stays rows-tier BY NATURE, not by gap —
    // the distinct-count sketch with an exact regime is the theta path
    // (Incremental.setState: k-smallest-hashes IS the distinct set below
    // 2^lgK), hash-gated end to end in events_user_overlap_exact.
    QuerySpec("q_approx_distinct", (s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy(col("l_returnflag"))
    }),

    // ROLLUP grouping sets (rolled-up levels shown as 'ALL').
    QuerySpec("q_rollup", (s, dir) => {
      lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    },
      oracle = Some(
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |       coalesce(l_linestatus, 'ALL') AS linestatus,
          |       round(sum(l_quantity), 2) AS sum_qty,
          |       count(*) AS n
          |FROM lineitem
          |GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin)),

    // Semi-structured payload: JSON extraction from events.props.
    QuerySpec("q_json_extract", (s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("k_mod"))
    },
      oracle = Some(
        """SELECT (json_extract_string(props, '$.k')::INTEGER) % 10 AS k_mod,
          |       count(*) AS n,
          |       sum(json_extract_string(props, '$.k')::INTEGER)::BIGINT AS sum_k,
          |       round(avg(value), 4) AS avg_value
          |FROM events
          |GROUP BY k_mod
          |ORDER BY k_mod""".stripMargin)),

    // Scalar string functions.
    QuerySpec("q_scalar_funcs", (s, dir) => {
      part(s, dir)
        .withColumn("type_prefix", element_at(split(col("p_type"), " "), 1))
        .groupBy(col("type_prefix"))
        .agg(
          count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 2).as("avg_price"),
          max(length(col("p_name"))).as("max_name_len"),
          min(upper(col("p_brand"))).as("min_brand"))
        .orderBy(col("type_prefix"))
    },
      oracle = Some(
        """SELECT split_part(p_type, ' ', 1) AS type_prefix,
          |       count(*) AS n_parts,
          |       round(avg(p_retailprice), 2) AS avg_price,
          |       max(length(p_name)) AS max_name_len,
          |       min(upper(p_brand)) AS min_brand
          |FROM part
          |GROUP BY type_prefix
          |ORDER BY type_prefix""".stripMargin)),

    // Date/time functions.
    QuerySpec("q_date_agg", (s, dir) => {
      orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("o_year"), quarter(col("o_orderdate")).as("o_quarter"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_year"), col("o_quarter"))
    },
      oracle = Some(
        """SELECT year(o_orderdate) AS o_year, quarter(o_orderdate) AS o_quarter,
          |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
          |FROM orders
          |GROUP BY o_year, o_quarter
          |ORDER BY o_year, o_quarter""".stripMargin)),

    // As-of join: for each purchase, the latest click at or before it by
    // the same user. Linear formulation (sort-carry), not a range join.
    QuerySpec("q_asof_join", (s, dir) => {
      Relational.lastMatchAsOf(
          events(s, dir), col("user_id"), col("event_id"),
          col("event_type") === "click", col("event_id"), "last_click_id")
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"),
          col("user_id"),
          coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"))
        .orderBy(col("purchase_id"))
    },
      oracle = Some(
        """SELECT event_id AS purchase_id, user_id, coalesce(last_click_id, -1) AS last_click_id
          |FROM (SELECT event_id, user_id, event_type,
          |             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
          |               OVER (PARTITION BY user_id ORDER BY event_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
          |      FROM events)
          |WHERE event_type = 'purchase'
          |ORDER BY purchase_id""".stripMargin)),

    // NEAREST as-of with tolerance (pandas merge_asof direction='nearest'):
    // every click matched to its time-closest purchase within 1h, either
    // direction, nulls when none. Two RANGE-window passes over one
    // key-hash shuffle — never a per-row probe join; all ties
    // deterministic and mirrored in the oracle's ORDER BY.
    QuerySpec("q_asof_join_nearest", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us").as("p_ts_us"), col("value"))
      Relational.nearestAsOf(clicks, purchases, "user_id",
          col("ts_us"), col("p_ts_us"), col("value"), tolerance = 3600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("matched_v").as("purchase_value"),
          col("matched_t").as("purchase_ts_us"), col("dist"))
        .orderBy(col("event_id"))
    },
      // tie mirror of Relational.nearestAsOf: equal distance → earlier
      // (backward) candidate; equal time backward → larger value, forward →
      // smaller (the CASE sign flip)
      oracle = Some(
        """WITH l AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
          |  FROM events WHERE event_type = 'click'),
          |r AS (
          |  SELECT user_id, epoch_us(ts) AS p_ts, value
          |  FROM events WHERE event_type = 'purchase'),
          |m AS (
          |  SELECT l.event_id, l.user_id, l.ts_us, r.value AS pv, r.p_ts,
          |         abs(r.p_ts - l.ts_us) AS dist,
          |         row_number() OVER (PARTITION BY l.event_id
          |           ORDER BY abs(r.p_ts - l.ts_us), r.p_ts,
          |                    CASE WHEN r.p_ts <= l.ts_us THEN -r.value
          |                         ELSE r.value END) AS rn
          |  FROM l JOIN r ON l.user_id = r.user_id
          |  WHERE abs(r.p_ts - l.ts_us) <= 3600000000)
          |SELECT event_id, user_id, ts_us, pv AS purchase_value,
          |       p_ts AS purchase_ts_us, dist
          |FROM m WHERE rn = 1
          |UNION ALL
          |SELECT l.event_id, l.user_id, l.ts_us, NULL, NULL, NULL
          |FROM l
          |WHERE NOT EXISTS (SELECT 1 FROM r
          |                  WHERE r.user_id = l.user_id
          |                    AND abs(r.p_ts - l.ts_us) <= 3600000000)
          |ORDER BY event_id""".stripMargin)),

    // Range/interval join against broadcast value tiers (theta join).
    QuerySpec("q_range_join", (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        (0.0, 50.0, "t1_low"), (50.0, 100.0, "t2_mid"),
        (100.0, 150.0, "t3_high"), (150.0, 100000.0, "t4_extreme"))
        .toDF("lo", "hi", "tier")
      Relational.rangeJoin(events(s, dir), tiers, col("value"), col("lo"), col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("tier"))
    },
      oracle = Some(
        """SELECT tier, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM events e
          |JOIN (VALUES (0.0, 50.0, 't1_low'), (50.0, 100.0, 't2_mid'),
          |             (100.0, 150.0, 't3_high'), (150.0, 100000.0, 't4_extreme'))
          |     t(lo, hi, tier)
          |  ON e.value >= t.lo AND e.value < t.hi
          |GROUP BY tier
          |ORDER BY tier""".stripMargin)),

    // Funnel analysis: per-user ordered stage completion (view -> click ->
    // purchase by event time). One hash agg computes each user's first
    // time per stage; the stage comparison is a map-side projection.
    QuerySpec("q_funnel", (s, dir) => {
      val firsts = events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      firsts.agg(
          count(lit(1)).as("n_users"),
          sum(when(col("t_view").isNotNull, 1).otherwise(0)).as("n_view"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1)
            .otherwise(0)).as("n_view_click"),
          sum(when(col("t_view").isNotNull && col("t_click") > col("t_view") &&
              col("t_purchase") > col("t_click"), 1)
            .otherwise(0)).as("n_view_click_purchase"))
    },
      oracle = Some(
        """SELECT count(*) AS n_users,
          |       sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_view,
          |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
          |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click,
          |       sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
          |                 AND t_purchase > t_click
          |                THEN 1 ELSE 0 END)::BIGINT AS n_view_click_purchase
          |FROM (
          |  SELECT user_id,
          |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
          |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
          |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
          |  FROM events GROUP BY user_id)""".stripMargin)),

    // Cohort retention: users cohorted by FIRST event day, distinct users
    // counted per (cohort, day offset) — the standard product-analytics
    // retention matrix. Day ids are integer epoch days end to end (dates
    // as date32 round-trip differently through the two engines' pandas
    // paths). Shape: the first-touch table derives from the same user_id
    // shuffle the join consumes (exchange reuse), then one hash agg on
    // (cohort, offset) — n_users at offset 0 IS the cohort size, every
    // other offset counts a subset of it.
    QuerySpec("q_cohort_retention", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id,
          |                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
          |           FROM events),
          |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
          |SELECT f.cohort_day, e.d - f.cohort_day AS day_offset,
          |       count(DISTINCT e.user_id)::BIGINT AS n_users
          |FROM e JOIN f USING (user_id)
          |GROUP BY 1, 2
          |ORDER BY cohort_day, day_offset""".stripMargin)),

    // Data profiling: fixed-width value histogram — the pre-training
    // distribution check. Bin id is integer math (map-side); one hash agg.
    QuerySpec("q_histogram", (s, dir) => {
      events(s, dir)
        .groupBy(floor(col("value") / 25).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo"),
          round(max(col("value")), 2).as("hi"))
        .orderBy(col("bin"))
    },
      oracle = Some(
        """SELECT floor(value / 25)::BIGINT AS bin, count(*) AS n,
          |       round(min(value), 2) AS lo, round(max(value), 2) AS hi
          |FROM events
          |GROUP BY 1
          |ORDER BY bin""".stripMargin)),

    // Equi-DEPTH histogram (equal row counts per bucket) — ORACLE SHAPE:
    // exact ntile needs one global sort with a total tie-break order. The
    // scale path computes bucket boundaries with approx_percentile (one
    // pass, mergeable sketch — see q_approx_percentiles) and range-buckets
    // rows against the broadcast boundaries, never sorting globally.
    QuerySpec("q_histogram_equidepth", (s, dir) => {
      val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      lineitem(s, dir)
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("bucket", ntile(8).over(w))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"))
        .orderBy(col("bucket"))
    },
      twin = Some("q_histogram_equidepth_scale"),
      note = Some(
        "ORACLE SHAPE: exact ntile = one global single-partition sort. " +
          "Scale path: q_histogram_equidepth_scale (approx_percentile boundaries broadcast, " +
          "rows range-bucketed map-side, no global sort)."),
      oracle = Some(
        """WITH t AS (
          |  SELECT l_extendedprice,
          |         ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
          |  FROM lineitem)
          |SELECT bucket, count(*)::BIGINT AS n_rows,
          |       round(min(l_extendedprice), 2) AS lo,
          |       round(max(l_extendedprice), 2) AS hi,
          |       round(avg(l_extendedprice), 2) AS avg_price
          |FROM t
          |GROUP BY bucket
          |ORDER BY bucket""".stripMargin)),

    // Rolling z-score anomaly census: every event judged against its own
    // user's trailing 24 h — the streaming-shaped outlier screen next to
    // the global MAD census. One shuffle on the user key, per-key RANGE
    // frame; census output so measure-zero boundary flips can't move the
    // hash.
    QuerySpec("events_anomaly", (s, dir) => {
      val ev = events(s, dir)
      Timeseries.rollingAnomalies(ev, col("user_id"),
          unix_timestamp(col("ts")), col("value"), windowSeconds = 86400L, z = 3.0)
        .groupBy(col("key").as("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_s, value FROM events),
          |w AS (SELECT user_id, value,
          |             count(value) OVER fr AS n_window,
          |             avg(value) OVER fr AS mean_w,
          |             stddev_samp(value) OVER fr AS std_w
          |      FROM e
          |      WINDOW fr AS (PARTITION BY user_id ORDER BY ts_s
          |                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
          |SELECT user_id, count(*)::BIGINT AS n_events,
          |       sum(CASE WHEN n_window >= 10 AND std_w > 0
          |                 AND abs(value - mean_w) > std_w * 3.0
          |            THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
          |FROM w
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin)),

    // SCD2 change intervals: each user's event_type mutation log collapsed
    // into [valid_from, valid_to) validity runs; the open (current) run's
    // valid_to is the 9999-12-31 sentinel so the oracle hash never sees a
    // NULL. Gaps-and-islands: one shuffle on user, runs collapse to a hash
    // agg before the lead() window ever sorts anything.
    QuerySpec("q_scd2_intervals", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      Timeseries.changeIntervals(ev, col("user_id"), col("ts_s"),
          col("event_id"), col("event_type"))
        .select(col("user_id"), col("value").as("event_type"),
          col("valid_from"),
          coalesce(col("valid_to"), lit(253402300800L)).as("valid_to"),
          col("n_events"))
        .orderBy(col("user_id"), col("valid_from"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type FROM events),
          |c AS (SELECT user_id, event_id, ts_s, event_type,
          |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
          |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
          |      FROM e),
          |r AS (SELECT user_id, ts_s, event_type,
          |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
          |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_id
          |      FROM c),
          |g AS (SELECT user_id, run_id, min(event_type) AS event_type,
          |             min(ts_s)::BIGINT AS valid_from, count(*)::BIGINT AS n_events
          |      FROM r GROUP BY 1, 2)
          |SELECT user_id, event_type, valid_from,
          |       coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id),
          |                253402300800)::BIGINT AS valid_to,
          |       n_events
          |FROM g
          |ORDER BY user_id, valid_from""".stripMargin)),

    // Interval-overlap (temporal) join: per validity interval of the first
    // user cohort, how many intervals of the second cohort were in force
    // at the same time — concurrency analysis as a banded equi-join on the
    // time band (each pair emitted only in its overlap-start band: exactly
    // once, no dedup), never |L|·|R|. Oracle = the naive theta join.
    QuerySpec("q_interval_overlap", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      def iv(loU: Int, hiU: Int, pfx: String) =
        Timeseries.changeIntervals(
            ev.filter(col("user_id") >= loU && col("user_id") < hiU),
            col("user_id"), col("ts_s"), col("event_id"), col("event_type"))
          .filter(col("valid_to").isNotNull) // open runs: no finite interval
          .select(col("user_id").as(s"${pfx}_user"),
            col("valid_from").as(s"${pfx}_from"), col("valid_to").as(s"${pfx}_to"))
      Relational.intervalOverlapJoin(
          iv(0, 10, "l"), iv(10, 20, "r"),
          col("l_from"), col("l_to"), col("r_from"), col("r_to"),
          bandWidth = 86400L)
        .groupBy(col("l_user"), col("l_from"))
        .agg(count(lit(1)).as("n_concurrent"))
        .orderBy(col("l_user"), col("l_from"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_s, event_type
          |           FROM events WHERE user_id < 20),
          |c AS (SELECT user_id, event_id, ts_s, event_type,
          |             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
          |                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
          |      FROM e),
          |r AS (SELECT user_id, ts_s,
          |             sum(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
          |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS run_id
          |      FROM c),
          |g AS (SELECT user_id, run_id, min(ts_s)::BIGINT AS valid_from
          |      FROM r GROUP BY 1, 2),
          |iv AS (SELECT user_id, valid_from,
          |              lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
          |       FROM g),
          |l AS (SELECT * FROM iv WHERE user_id < 10 AND valid_to IS NOT NULL),
          |rr AS (SELECT * FROM iv WHERE user_id >= 10 AND valid_to IS NOT NULL)
          |SELECT l.user_id AS l_user, l.valid_from AS l_from, count(*)::BIGINT AS n_concurrent
          |FROM l JOIN rr ON l.valid_from < rr.valid_to AND rr.valid_from < l.valid_to
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)),

    // Bounded-horizon EWMA per user: exponential smoothing re-expressed as
    // a pure function of the last 8 rows (geometric weights truncated where
    // they vanish), so the sequential recurrence becomes one per-key window
    // — embarrassingly parallel, no cross-row state. Value quantized once
    // to micro-units; weight literals embedded identically in the oracle.
    QuerySpec("events_ewma", (s, dir) => {
      events(s, dir)
        .withColumn("ewma", Analytics.ewma("user_id",
          Seq(unix_micros(col("ts")), col("event_id")), "value",
          alpha = 0.3, horizon = 8))
        .filter(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy(col("event_id"))
    },
      // EWMA: the lag-unrolled bounded-horizon form, with the (1-α)^j weight
      // literals emitted from the SAME math.pow calls the Spark plan embeds
      // (Double.toString round-trips, so DuckDB parses the identical double)
      // and the numerator/denominator summed in the same ascending-j
      // association order — the final division is bit-identical.
      oracle = Some(ewmaOracleSql(alpha = 0.3, horizon = 8))),

    // Rolling 20-row Pearson correlation of value against time per user,
    // from exact integer moment sums (decimal ≡ DuckDB HUGEINT) — the
    // engines' native `corr` window aggregate accumulates doubles in
    // engine-private order and can't be checked cross-engine. Degenerate
    // frames (zero variance) yield sentinel 2.0, never NULL.
    QuerySpec("events_rolling_corr", (s, dir) => {
      events(s, dir)
        .withColumn("corr20", Analytics.rollingCorr("user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          xCol = unix_timestamp(col("ts")) - 1704067200L,
          yCol = round(col("value") * 10000, 0).cast("long"),
          frameRows = 20))
        .filter(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id"), col("user_id"), col("corr20"))
        .orderBy(col("event_id"))
    },
      note = Some(
        "one key shuffle + per-key sort; six DECIMAL(38,0) moment sums over a 20-row frame " +
          "per row — exact integer moments chosen over the native double corr so the result " +
          "is cross-engine checkable. Cost is per-row CPU in one window pass, no extra exchange."),
      // moment differences cast ::BIGINT::DOUBLE (single hardware cvt) —
      // DuckDB's direct HUGEINT→DOUBLE is not correctly rounded; the bounded
      // 20-row frame keeps every difference far inside int64.
      oracle = Some(
        """WITH e AS (
          |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
          |         (epoch_ns(ts) // 1000000000 - 1704067200)::HUGEINT AS x,
          |         CAST(round(value * 10000, 0) AS BIGINT)::HUGEINT AS y
          |  FROM events),
          |w AS (
          |  SELECT event_id, user_id,
          |         count(*) OVER fr AS n,
          |         sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
          |         sum(x * y) OVER fr AS sxy,
          |         sum(x * x) OVER fr AS sxx, sum(y * y) OVER fr AS syy
          |  FROM e
          |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          |SELECT event_id, user_id,
          |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
          |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
          |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
          |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
          |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
          |                       * 10000.0 + 0.5)::BIGINT / 10000.0
          |            ELSE 2.0 END AS corr20
          |FROM w
          |WHERE event_id % 20 = 0
          |ORDER BY event_id""".stripMargin)),

    // Autocorrelation census per event type at lags 1..3 — the
    // seasonality/persistence detector. One window pass computes all lags'
    // leads, one hash agg per (type, lag); exact deci-unit moments (chosen
    // so moment differences stay inside int64 through sf1 for the oracle's
    // single-cvt BIGINT→DOUBLE), sentinel 2.0 on degenerate lags.
    QuerySpec("events_acf", (s, dir) => {
      Analytics.autocorrCensus(events(s, dir), "event_type",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          lags = Seq(1, 2, 3))
        .select(col("event_type"), col("lag"), col("n_pairs"), col("acf"))
        .orderBy(col("event_type"), col("lag"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |         CAST(round(value * 10, 0) AS BIGINT) AS x
          |  FROM events),
          |l AS (
          |  SELECT event_type, x,
          |         lead(x, 1) OVER w AS y1,
          |         lead(x, 2) OVER w AS y2,
          |         lead(x, 3) OVER w AS y3
          |  FROM e
          |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
          |p AS (
          |  SELECT event_type, 1 AS lag, x::HUGEINT AS x, y1::HUGEINT AS y
          |  FROM l WHERE y1 IS NOT NULL AND x IS NOT NULL
          |  UNION ALL
          |  SELECT event_type, 2, x::HUGEINT, y2::HUGEINT FROM l
          |  WHERE y2 IS NOT NULL AND x IS NOT NULL
          |  UNION ALL
          |  SELECT event_type, 3, x::HUGEINT, y3::HUGEINT FROM l
          |  WHERE y3 IS NOT NULL AND x IS NOT NULL),
          |a AS (
          |  SELECT event_type, lag, count(*)::HUGEINT AS n,
          |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
          |         sum(x * x) AS sxx, sum(y * y) AS syy
          |  FROM p GROUP BY 1, 2)
          |SELECT event_type, lag, n::BIGINT AS n_pairs,
          |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
          |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
          |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
          |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
          |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
          |                       * 10000.0 + 0.5)::BIGINT / 10000.0
          |            ELSE 2.0 END AS acf
          |FROM a
          |ORDER BY event_type, lag""".stripMargin)),

    // Gini concentration of document mass per source — "is this source a
    // few huge docs or many small ones?". Rank formula over a total
    // (n_chars, doc_id) order, exact decimal products, integer-ppm
    // round-half-up output; the per-group window sort is the exact oracle
    // shape (groups shard across the cluster).
    QuerySpec("q_gini_source", (s, dir) => {
      Analytics.giniPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("doc_id"))
        .select(col("source"), col("n"), col("gini_ppm"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH r AS (
          |  SELECT source, n_chars::HUGEINT AS x,
          |         row_number() OVER (PARTITION BY source
          |           ORDER BY n_chars, doc_id)::HUGEINT AS i
          |  FROM documents),
          |a AS (
          |  SELECT source, count(*)::HUGEINT AS n, sum(x) AS sx, sum(i * x) AS six
          |  FROM r GROUP BY 1)
          |SELECT source, n::BIGINT AS n,
          |       (((2 * six - (n + 1) * sx) * 2000000 + n * sx)
          |        // (n * sx * 2))::BIGINT AS gini_ppm
          |FROM a WHERE sx > 0
          |ORDER BY source""".stripMargin)),

    // Benford first-digit census over order totals (cents) — the
    // fraud/synthetic-data screen. First digit via decimal-string head (no
    // log10 boundary risk); observed ppm round-half-up integer, expected
    // ppm the published Benford constants as literals on both engines.
    QuerySpec("q_benford", (s, dir) => {
      Analytics.benfordCensus(orders(s, dir),
          round(col("o_totalprice") * 100, 0).cast("long"))
        .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"), col("dev_ppm"))
        .orderBy(col("digit"))
    },
      oracle = Some(
        """WITH c AS (
          |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
          |                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
          |         count(*)::BIGINT AS n
          |  FROM orders
          |  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0
          |  GROUP BY 1),
          |t AS (SELECT *, sum(n) OVER () AS tot FROM c),
          |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
          |       (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
          |       (9, 45757)) AS v(digit, exp_ppm))
          |SELECT t.digit, t.n,
          |       ((t.n * 2000000 + tot) // (tot * 2))::BIGINT AS obs_ppm,
          |       e.exp_ppm::BIGINT AS exp_ppm,
          |       ((t.n * 2000000 + tot) // (tot * 2))::BIGINT - e.exp_ppm AS dev_ppm
          |FROM t JOIN e ON t.digit = e.digit
          |ORDER BY t.digit""".stripMargin)),

    // Interval-union coverage per user: each event holds activity open for
    // 5 minutes; overlapping holds merge into maximal spans (total active
    // time — the union metric a gap-cut session window can't express).
    // Gaps-and-islands in exact epoch-µs integers: one per-key sort, a
    // prior-ends running max, flag-sum island ids, two hash aggs.
    QuerySpec("events_active_spans", (s, dir) => {
      Timeseries.coverageSpans(events(s, dir), "user_id",
          unix_micros(col("ts")), holdSeconds = 300)
        .select(col("user_id"), col("n_spans"), col("active_us"), col("max_span_us"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS s,
          |         epoch_ns(ts) // 1000 + 300000000 AS e
          |  FROM events),
          |f AS (
          |  SELECT user_id, s, e,
          |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
          |                      ROWS BETWEEN UNBOUNDED PRECEDING
          |                      AND 1 PRECEDING) AS pme
          |  FROM e),
          |g AS (
          |  SELECT user_id, s, e,
          |         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
          |  FROM f),
          |h AS (
          |  SELECT user_id, s, e,
          |         sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
          |                       ROWS BETWEEN UNBOUNDED PRECEDING
          |                       AND CURRENT ROW) AS isl
          |  FROM g),
          |i AS (
          |  SELECT user_id, isl, min(s) AS f, max(e) AS t FROM h GROUP BY 1, 2)
          |SELECT user_id, count(*)::BIGINT AS n_spans,
          |       sum(t - f)::BIGINT AS active_us,
          |       max(t - f)::BIGINT AS max_span_us
          |FROM i GROUP BY user_id
          |ORDER BY user_id""".stripMargin)),

    // Spearman rank correlation of char length vs token count per source —
    // the monotone-association sanity monitor (a source where length stops
    // tracking token count is full of markup or binary junk). Tie-corrected
    // via exact integer DOUBLED average ranks; then the family's decimal
    // moments + one closed-form division.
    QuerySpec("q_spearman_source", (s, dir) => {
      Analytics.spearmanPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), TextAnalysis.tokenCount(col("text")))
        .select(col("source"), col("n"), col("rho"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH d AS (
          |  SELECT source, n_chars::BIGINT AS x,
          |         len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS y
          |  FROM documents),
          |r AS (
          |  SELECT source,
          |         (2 * rank() OVER (PARTITION BY source ORDER BY x)
          |          + count(*) OVER (PARTITION BY source, x) - 1)::HUGEINT AS rx,
          |         (2 * rank() OVER (PARTITION BY source ORDER BY y)
          |          + count(*) OVER (PARTITION BY source, y) - 1)::HUGEINT AS ry
          |  FROM d),
          |a AS (
          |  SELECT source, count(*)::HUGEINT AS n, sum(rx) AS sx, sum(ry) AS sy,
          |         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          |  FROM r GROUP BY 1)
          |SELECT source, n::BIGINT AS n,
          |       CASE WHEN (n * sxx - sx * sx)::BIGINT::DOUBLE > 0
          |             AND (n * syy - sy * sy)::BIGINT::DOUBLE > 0
          |            THEN floor((n * sxy - sx * sy)::BIGINT::DOUBLE
          |                       / sqrt((n * sxx - sx * sx)::BIGINT::DOUBLE)
          |                       / sqrt((n * syy - sy * sy)::BIGINT::DOUBLE)
          |                       * 10000.0 + 0.5)::BIGINT / 10000.0
          |            ELSE 2.0 END AS rho
          |FROM a
          |ORDER BY source""".stripMargin)),

    // Okapi BM25 relevance scores for a fixed 3-term query — the search
    // scoring function, completing the retrieval family (TF-IDF weighs the
    // corpus, DSIR matches distributions, BM25 ranks against a query).
    // One 1-row stats broadcast + a per-row projection; the float chain is
    // written in one fixed order the oracle mirrors token for token.
    QuerySpec("text_bm25", (s, dir) => {
      TextAnalysis.bm25Scores(documents(s, dir), col("doc_id"), col("text"),
          terms = Seq("join", "vector", "spark"))
        .filter(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("doc_id"), col("dl"), col("bm25"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
          |  FROM documents),
          |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM t),
          |s AS (
          |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tot,
          |         sum(CASE WHEN list_contains(toks, 'join')
          |             THEN 1 ELSE 0 END)::BIGINT AS df0,
          |         sum(CASE WHEN list_contains(toks, 'vector')
          |             THEN 1 ELSE 0 END)::BIGINT AS df1,
          |         sum(CASE WHEN list_contains(toks, 'spark')
          |             THEN 1 ELSE 0 END)::BIGINT AS df2
          |  FROM d),
          |w AS (
          |  SELECT doc_id, dl,
          |         len(list_filter(toks, x -> x = 'join'))::BIGINT AS tf0,
          |         len(list_filter(toks, x -> x = 'vector'))::BIGINT AS tf1,
          |         len(list_filter(toks, x -> x = 'spark'))::BIGINT AS tf2,
          |         n, tot, df0, df1, df2,
          |         (1.0 - 0.75) + 0.75 * ((dl * n)::DOUBLE / tot::DOUBLE) AS nrm
          |  FROM d CROSS JOIN s)
          |SELECT doc_id, dl,
          |       floor((
          |         CASE WHEN tf0 > 0 THEN
          |           ln(1.0 + ((n - df0)::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
          |           * (tf0::DOUBLE * (1.2 + 1.0)
          |              / (tf0::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
          |         + CASE WHEN tf1 > 0 THEN
          |           ln(1.0 + ((n - df1)::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
          |           * (tf1::DOUBLE * (1.2 + 1.0)
          |              / (tf1::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
          |         + CASE WHEN tf2 > 0 THEN
          |           ln(1.0 + ((n - df2)::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
          |           * (tf2::DOUBLE * (1.2 + 1.0)
          |              / (tf2::DOUBLE + 1.2 * nrm)) ELSE 0.0 END
          |       ) * 10000.0 + 0.5)::BIGINT / 10000.0 AS bm25
          |FROM w WHERE doc_id % 10 = 0
          |ORDER BY doc_id""".stripMargin)),

    // Hapax-legomena census per source: what fraction of the distinct
    // vocabulary occurs exactly once — the Heaps-law freshness signal
    // (template spam collapses toward 0, OCR noise explodes toward 1).
    QuerySpec("text_hapax", (s, dir) => {
      TextAnalysis.hapaxCensus(documents(s, dir), Seq(col("source")), col("text"))
        .select(col("source"), col("n_terms"), col("n_hapax"), col("hapax_ppm"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH t AS (
          |  SELECT source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
          |  FROM documents),
          |c AS (SELECT source, term, count(*)::BIGINT AS c FROM t GROUP BY 1, 2)
          |SELECT source, count(*)::BIGINT AS n_terms,
          |       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
          |       ((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 * 2
          |         + count(*)) // (count(*) * 2))::BIGINT AS hapax_ppm
          |FROM c GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Zipf-exponent census per source: OLS slope of ln(freq) on ln(rank)
    // over the top-200 terms — natural text sits near −1; templated or
    // synthetic partitions flatten/steepen it. Bounded-heap top-K, no
    // vocabulary sort; tie-invariant so the heap's hash tiebreak and the
    // oracle's (freq DESC, term ASC) row_number see the same multiset.
    QuerySpec("text_zipf", (s, dir) => {
      TextAnalysis.zipfCensus(documents(s, dir), Seq(col("source")), col("text"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("n_top"), col("zipf_slope"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH t AS (
          |  SELECT source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
          |  FROM documents),
          |tf AS (SELECT source, term, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
          |stats AS (
          |  SELECT source, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab
          |  FROM tf GROUP BY 1),
          |top AS (
          |  SELECT source, ln(r::DOUBLE) AS x, ln(c::DOUBLE) AS y
          |  FROM (SELECT source, c, row_number() OVER (
          |          PARTITION BY source ORDER BY c DESC, term) AS r
          |        FROM tf)
          |  WHERE r <= 200),
          |ols AS (
          |  SELECT source, count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
          |         sum(x * y) AS sxy, sum(x * x) AS sxx
          |  FROM top GROUP BY 1)
          |SELECT s.source, s.n_tokens, s.vocab, n::BIGINT AS n_top,
          |       CASE WHEN n >= 2
          |            THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
          |       END AS zipf_slope
          |FROM stats s JOIN ols USING (source)
          |ORDER BY source""".stripMargin)),

    // Blocklist filter census (C4 badwords drop rule): ONE Aho-Corasick
    // pass per doc over the whole phrase list — the list includes a
    // pattern nested inside another ("merge" ⊂ "merge batch", exercising
    // the dictionary-suffix collapse) and an absent phrase. Oracle: plain
    // per-pattern strpos in DuckDB — doc-level distinct-pattern semantics
    // keep it exact.
    QuerySpec("text_blocklist", (s, dir) => {
      TextAnalysis.blocklistCensus(documents(s, dir), Seq(col("source")),
          col("text"), blocklistPatterns)
        .select(col("source"), col("n_docs"), col("n_flagged"),
          col("n_kept"), col("pattern_hits"))
        .orderBy(col("source"))
    },
      oracle = Some(
        s"""WITH p(pat) AS (VALUES
          |    ${blocklistPatterns.map(p => s"('${p.replace("'", "''")}')").mkString(", ")}),
          |hits AS (
          |  SELECT d.source, d.doc_id,
          |         sum(CASE WHEN strpos(d.text, p.pat) > 0 THEN 1 ELSE 0 END) AS h
          |  FROM documents d CROSS JOIN p
          |  GROUP BY 1, 2)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |       sum(CASE WHEN h > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
          |       sum(CASE WHEN h > 0 THEN 0 ELSE 1 END)::BIGINT AS n_kept,
          |       sum(h)::BIGINT AS pattern_hits
          |FROM hits GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Char-mass midpoint per source: the lower WEIGHTED median of document
    // length weighted by length — "half this source's bytes live in docs
    // shorter than this". Exact integers: total-order cumsum, suffix test
    // 2·cumw >= tot, min(struct) pick.
    QuerySpec("q_wmedian_source", (s, dir) => {
      Analytics.weightedMedianPerGroup(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("n_chars"), col("doc_id"))
        .select(col("source"), col("n"), col("total_w"), col("wmedian"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH r AS (
          |  SELECT source, n_chars::BIGINT AS v, n_chars::BIGINT AS w, doc_id,
          |         sum(n_chars) OVER (PARTITION BY source
          |             ORDER BY n_chars, doc_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |         sum(n_chars) OVER (PARTITION BY source) AS tot,
          |         count(*) OVER (PARTITION BY source) AS n
          |  FROM documents),
          |q AS (SELECT * FROM r WHERE tot > 0 AND cum * 2 >= tot)
          |SELECT source, max(n)::BIGINT AS n, max(tot)::BIGINT AS total_w,
          |       min(v)::BIGINT AS wmedian
          |FROM q GROUP BY source
          |ORDER BY source""".stripMargin)),

    // State-dwell census: how long users sit in each event type before
    // their next event (stint = holds-until-next, the TWAP duration
    // model on a categorical) — the natural companion to the transition
    // census. Exact epoch-µs; mean is the family round-half-up division.
    QuerySpec("events_dwell", (s, dir) => {
      Timeseries.dwellCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          unix_micros(col("ts")), col("event_type"))
        .select(col("state"), col("n_stints"), col("total_us"), col("mean_us"))
        .orderBy(col("state"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
          |  FROM events),
          |d AS (
          |  SELECT event_type AS state,
          |         lead(ts_us) OVER (PARTITION BY user_id
          |                           ORDER BY ts_us, event_id) - ts_us AS dur
          |  FROM e)
          |SELECT state, count(*)::BIGINT AS n_stints, sum(dur)::BIGINT AS total_us,
          |       ((sum(dur) * 2 + count(*)) // (count(*) * 2))::BIGINT AS mean_us
          |FROM d WHERE dur IS NOT NULL
          |GROUP BY state
          |ORDER BY state""".stripMargin)),

    // SAX symbolic discretization per user: 8 PAA segments, 4-symbol
    // alphabet over the series' own nearest-rank quartile breakpoints —
    // the time-series-to-word transform, bit-exact because breakpoints
    // are data quantiles (exact integers), not Gaussian z-norm floats.
    QuerySpec("events_sax", (s, dir) => {
      Timeseries.saxSymbols(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          buckets = 8, alphabet = 4)
        .orderBy(col("user_id"), col("bucket"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id AS k, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |         CAST(round(value * 10000, 0) AS BIGINT) AS v
          |  FROM events),
          |r AS (
          |  SELECT k, v,
          |         row_number() OVER (PARTITION BY k
          |                            ORDER BY ts_us, event_id) AS rn,
          |         row_number() OVER (PARTITION BY k
          |                            ORDER BY v, ts_us, event_id) AS rv,
          |         count(*) OVER (PARTITION BY k) AS n
          |  FROM e),
          |paa AS (
          |  SELECT k, ((rn - 1) * 8) // n AS b,
          |         count(*)::BIGINT AS c, sum(v)::BIGINT AS s
          |  FROM r GROUP BY 1, 2),
          |pa AS (SELECT k, b, (s * 2 + c) // (c * 2) AS paa_u FROM paa),
          |bp AS (
          |  SELECT k, v AS bpv FROM r
          |  WHERE rv = (n * 1 + 3) // 4 OR rv = (n * 2 + 3) // 4
          |     OR rv = (n * 3 + 3) // 4)
          |SELECT pa.k AS user_id, pa.b AS bucket, pa.paa_u,
          |       sum(CASE WHEN bp.bpv <= pa.paa_u THEN 1 ELSE 0 END)::BIGINT
          |         AS symbol
          |FROM pa LEFT JOIN bp ON pa.k = bp.k
          |GROUP BY 1, 2, 3
          |ORDER BY user_id, bucket""".stripMargin)),

    // SAX word census: each user's 8-symbol SAX word (segments in order)
    // counted across the population — the motif table ("how many users
    // share this activity shape"). Composition over events_sax; the word
    // assembles from an ORDERED collect, deterministic on both engines.
    QuerySpec("events_sax_words", (s, dir) => {
      Timeseries.saxSymbols(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          buckets = 8, alphabet = 4)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("bucket"), col("symbol")))),
          x => x.getField("symbol").cast("string")), "").as("sax_word"))
        .groupBy(col("sax_word"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("sax_word"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id AS k, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |         CAST(round(value * 10000, 0) AS BIGINT) AS v
          |  FROM events),
          |r AS (
          |  SELECT k, v,
          |         row_number() OVER (PARTITION BY k
          |                            ORDER BY ts_us, event_id) AS rn,
          |         row_number() OVER (PARTITION BY k
          |                            ORDER BY v, ts_us, event_id) AS rv,
          |         count(*) OVER (PARTITION BY k) AS n
          |  FROM e),
          |paa AS (
          |  SELECT k, ((rn - 1) * 8) // n AS b,
          |         count(*)::BIGINT AS c, sum(v)::BIGINT AS s
          |  FROM r GROUP BY 1, 2),
          |pa AS (SELECT k, b, (s * 2 + c) // (c * 2) AS paa_u FROM paa),
          |bp AS (
          |  SELECT k, v AS bpv FROM r
          |  WHERE rv = (n * 1 + 3) // 4 OR rv = (n * 2 + 3) // 4
          |     OR rv = (n * 3 + 3) // 4),
          |sym AS (
          |  SELECT pa.k, pa.b,
          |         sum(CASE WHEN bp.bpv <= pa.paa_u THEN 1 ELSE 0 END)::BIGINT
          |           AS symbol
          |  FROM pa LEFT JOIN bp ON pa.k = bp.k
          |  GROUP BY 1, 2),
          |words AS (
          |  SELECT k, string_agg(symbol::VARCHAR, '' ORDER BY b) AS sax_word
          |  FROM sym GROUP BY k)
          |SELECT sax_word, count(*)::BIGINT AS n_users
          |FROM words GROUP BY 1
          |ORDER BY sax_word""".stripMargin)),

    // Multi-touch attribution census: which event types earn conversion
    // credit under first-touch / last-touch / linear models at once.
    // Exact integer ppm — the last touch absorbs the split remainder, so
    // every converted window sums to exactly 1e6.
    QuerySpec("events_attribution", (s, dir) => {
      Analytics.attributionCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")),
          col("event_type"), convType = "purchase")
        .orderBy(col("event_type"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type,
          |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
          |  FROM events),
          |m AS (
          |  SELECT user_id, ts_us, event_id, event_type, conv,
          |         sum(conv) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           - conv + 1 AS tgt,
          |         sum(conv) OVER (PARTITION BY user_id) AS nc
          |  FROM e),
          |t AS (SELECT * FROM m WHERE conv = 0 AND tgt <= nc),
          |r AS (
          |  SELECT event_type,
          |         row_number() OVER (PARTITION BY user_id, tgt
          |                            ORDER BY ts_us, event_id) AS rn,
          |         count(*) OVER (PARTITION BY user_id, tgt) AS n
          |  FROM t),
          |c AS (
          |  SELECT event_type, rn, n,
          |         1000000 // n + CASE WHEN rn = n
          |                       THEN 1000000 - n * (1000000 // n)
          |                       ELSE 0 END AS lin
          |  FROM r)
          |SELECT event_type,
          |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS first_n,
          |       sum(CASE WHEN rn = n THEN 1 ELSE 0 END)::BIGINT AS last_n,
          |       sum(lin)::BIGINT AS linear_ppm
          |FROM c GROUP BY event_type
          |ORDER BY event_type""".stripMargin)),

    // RFM segmentation census: recency/frequency/monetary quintiles per
    // customer (best = bin 1), counted per occupied cell — the classic
    // customer-value grid, exact integers end to end (recency against the
    // corpus max date, a 1-row broadcast).
    QuerySpec("q_rfm", (s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ in the parquet; the UTC-session cast
      // makes unix_micros well-defined and equal to DuckDB's epoch_ns//1000
      Analytics.rfmCensus(orders(s, dir), col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")),
          round(col("o_totalprice") * 100, 0).cast("long"))
        .orderBy(col("r_bin"), col("f_bin"), col("m_bin"))
    },
      note = Some(
        "the three ntile windows run over the |entities| aggregate, not the corpus — but the " +
          "order IS total, so each is a single-partition sort of |entities| rows. At extreme " +
          "entity counts swap ntile for broadcast approx-percentile boundary assignment " +
          "(the perplexityBucketsApprox / q_histogram_equidepth_scale pattern)."),
      oracle = Some(
        """WITH p AS (
          |  SELECT o_custkey AS e,
          |         max(epoch_ns(o_orderdate) // 1000) AS lastts,
          |         count(*)::BIGINT AS f,
          |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS m
          |  FROM orders GROUP BY 1),
          |a AS (SELECT max(lastts) AS asofts FROM p),
          |b AS (
          |  SELECT (ntile(5) OVER (ORDER BY asofts - lastts, e))::INTEGER AS r_bin,
          |         (ntile(5) OVER (ORDER BY f DESC, e))::INTEGER AS f_bin,
          |         (ntile(5) OVER (ORDER BY m DESC, e))::INTEGER AS m_bin,
          |         m
          |  FROM p CROSS JOIN a)
          |SELECT r_bin, f_bin, m_bin, count(*)::BIGINT AS n_entities,
          |       sum(m)::BIGINT AS cell_cents
          |FROM b GROUP BY 1, 2, 3
          |ORDER BY 1, 2, 3""".stripMargin)),

    // ABC / Pareto census over part revenue: the 80/95 concentration cut
    // via cross-multiplied integer comparisons on the inclusive cumulative
    // share — no percentage float ever exists.
    QuerySpec("q_abc_parts", (s, dir) => {
      Analytics.abcCensus(lineitem(s, dir), col("l_partkey"),
          round(col("l_extendedprice") * 100, 0).cast("long"))
        .orderBy(col("abc_class"))
    },
      note = Some(
        "the cumulative-share rank window runs over the |items| aggregate under a total " +
          "order — a single-partition sort of the item vocabulary, never the corpus. " +
          "Range-partition the sort if the vocabulary itself is huge (scaladoc'd)."),
      oracle = Some(
        """WITH p AS (
          |  SELECT l_partkey AS i,
          |         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS v
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT sum(v)::HUGEINT AS tot FROM p),
          |c AS (
          |  SELECT v,
          |         sum(v) OVER (ORDER BY v DESC, i
          |            ROWS BETWEEN UNBOUNDED PRECEDING
          |            AND CURRENT ROW)::HUGEINT AS cum,
          |         tot
          |  FROM p CROSS JOIN t),
          |k AS (SELECT v, tot,
          |             CASE WHEN cum * 100 <= tot * 80 THEN 'A'
          |                  WHEN cum * 100 <= tot * 95 THEN 'B'
          |                  ELSE 'C' END AS abc_class
          |      FROM c)
          |SELECT abc_class, count(*)::BIGINT AS n_items, sum(v)::BIGINT AS class_cents,
          |       ((sum(v)::HUGEINT * 2000000 + max(tot))
          |        // (max(tot) * 2))::BIGINT AS share_ppm
          |FROM k GROUP BY 1
          |ORDER BY 1""".stripMargin)),

    // AUC census per source: does document length separate English from
    // the rest? AUC IS the Mann-Whitney statistic, so the doubled-rank
    // identity gives it exactly — never the n_pos×n_neg pairwise blowup.
    // Exact rational (num, den) + round-half-up ppm.
    QuerySpec("q_auc_source", (s, dir) => {
      Analytics.aucCensus(documents(s, dir), Seq(col("source")),
          col("n_chars"), col("lang") === "en")
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH d AS (
          |  SELECT source, n_chars::BIGINT AS s, (lang = 'en') AS y
          |  FROM documents),
          |r AS (
          |  SELECT source, y,
          |         (2 * rank() OVER (PARTITION BY source ORDER BY s)
          |          + count(*) OVER (PARTITION BY source, s) - 1)::HUGEINT AS d
          |  FROM d),
          |a AS (
          |  SELECT source,
          |         sum(CASE WHEN y THEN 1 ELSE 0 END)::HUGEINT AS n1,
          |         sum(CASE WHEN y THEN 0 ELSE 1 END)::HUGEINT AS n0,
          |         sum(CASE WHEN y THEN d ELSE 0 END) AS r1
          |  FROM r GROUP BY 1)
          |SELECT source, n1::BIGINT AS n_pos, n0::BIGINT AS n_neg,
          |       (r1 - n1 * (n1 + 1))::BIGINT AS auc_num,
          |       (2 * n1 * n0)::BIGINT AS auc_den,
          |       (((r1 - n1 * (n1 + 1)) * 2000000 + 2 * n1 * n0)
          |        // (2 * n1 * n0 * 2))::BIGINT AS auc_ppm
          |FROM a WHERE n1 > 0 AND n0 > 0
          |ORDER BY source""".stripMargin)),

    // Two-sample KS census: each source's document-length distribution
    // against the REST of the corpus — the shape-drift detector. Exact
    // cross-multiplied ECDF distance on the discrete n_chars grid; ppm in
    // decimal so no corpus size wraps it.
    QuerySpec("q_ks_source", (s, dir) => {
      Analytics.ksCensus(documents(s, dir), col("source"), col("n_chars"))
        .select(col("group").as("source"), col("n_g"), col("n_rest"),
          col("d_num"), col("d_ppm"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH c AS (SELECT source AS g, n_chars::BIGINT AS v,
          |                  count(*)::BIGINT AS c
          |           FROM documents GROUP BY 1, 2),
          |t AS (SELECT g, sum(c)::BIGINT AS ng FROM c GROUP BY 1),
          |a AS (SELECT v, sum(c)::BIGINT AS call FROM c GROUP BY 1),
          |gr AS (SELECT sum(c)::BIGINT AS nall FROM c),
          |grid AS (SELECT t.g, t.ng, a.v, a.call, gr.nall
          |         FROM t CROSS JOIN a CROSS JOIN gr),
          |j AS (SELECT grid.g, grid.ng, grid.v, grid.call, grid.nall,
          |             coalesce(c.c, 0) AS c
          |      FROM grid LEFT JOIN c ON grid.g = c.g AND grid.v = c.v),
          |st AS (SELECT g, ng, nall - ng AS nr,
          |              sum(c) OVER w AS cumg, sum(call) OVER w AS cumall
          |       FROM j WINDOW w AS (PARTITION BY g ORDER BY v
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT g, max(ng) AS ng, max(nr) AS nr,
          |             max(abs(cumg * nr - (cumall - cumg) * ng)) AS dnum
          |      FROM st GROUP BY g)
          |SELECT g AS source, ng::BIGINT AS n_g, nr::BIGINT AS n_rest,
          |       dnum::BIGINT AS d_num,
          |       ((dnum::HUGEINT * 2000000 + ng::HUGEINT * nr)
          |        // (ng::HUGEINT * nr * 2))::BIGINT AS d_ppm
          |FROM m WHERE nr > 0
          |ORDER BY source""".stripMargin)),

    // The bins path of the same census on a genuinely CONTINUOUS column:
    // events.value quantizes to ~6.6k distinct cents at sf0.01 — past the
    // 4096 guard, so this query EXERCISES the enforced contract (un-binned
    // it would raise) and gates the equi-width integer binning arithmetic
    // cross-engine: bucket = ((v-min)·64)/(span+1), floor ≡ truncate on
    // both engines because everything is non-negative.
    QuerySpec("q_ks_binned", (s, dir) => {
      Analytics.ksCensus(
          events(s, dir).select(col("event_type"),
            round(col("value") * 100, 0).cast("long").as("vu")),
          col("event_type"), col("vu"),
          bins = Some(64), maxDistinct = 4096L)
        .select(col("group").as("event_type"), col("n_g"), col("n_rest"),
          col("d_num"), col("d_ppm"))
        .orderBy(col("event_type"))
    },
      // the bins path: same ECDF tail over equi-width integer buckets of the
      // cents-quantized value (floor ≡ truncate: everything non-negative)
      oracle = Some(
        """WITH e AS (SELECT event_type AS g, round(value * 100)::BIGINT AS v
          |           FROM events),
          |c0 AS (SELECT g, v, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
          |b AS (SELECT min(v) AS mn, max(v) AS mx FROM c0),
          |c AS (SELECT g,
          |             ((v - mn)::HUGEINT * 64 // (mx - mn + 1)::HUGEINT)::BIGINT AS v,
          |             sum(c)::BIGINT AS c
          |      FROM c0 CROSS JOIN b GROUP BY 1, 2),
          |t AS (SELECT g, sum(c)::BIGINT AS ng FROM c GROUP BY 1),
          |a AS (SELECT v, sum(c)::BIGINT AS call FROM c GROUP BY 1),
          |gr AS (SELECT sum(c)::BIGINT AS nall FROM c),
          |grid AS (SELECT t.g, t.ng, a.v, a.call, gr.nall
          |         FROM t CROSS JOIN a CROSS JOIN gr),
          |j AS (SELECT grid.g, grid.ng, grid.v, grid.call, grid.nall,
          |             coalesce(c.c, 0) AS c
          |      FROM grid LEFT JOIN c ON grid.g = c.g AND grid.v = c.v),
          |st AS (SELECT g, ng, nall - ng AS nr,
          |              sum(c) OVER w AS cumg, sum(call) OVER w AS cumall
          |       FROM j WINDOW w AS (PARTITION BY g ORDER BY v
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT g, max(ng) AS ng, max(nr) AS nr,
          |             max(abs(cumg * nr - (cumall - cumg) * ng)) AS dnum
          |      FROM st GROUP BY g)
          |SELECT g AS event_type, ng::BIGINT AS n_g, nr::BIGINT AS n_rest,
          |       dnum::BIGINT AS d_num,
          |       ((dnum::HUGEINT * 2000000 + ng::HUGEINT * nr)
          |        // (ng::HUGEINT * nr * 2))::BIGINT AS d_ppm
          |FROM m WHERE nr > 0
          |ORDER BY event_type""".stripMargin)),

    // Western-Electric SPC rule census per user over the user's own
    // control limits — the 1956 handbook run rules (beyond 3σ; 2-of-3
    // beyond 2σ same side; 4-of-5 beyond 1σ same side; 8 same side), all
    // as cross-multiplied integer inequalities in decimal, zero floats.
    QuerySpec("events_spc", (s, dir) => {
      Analytics.spcCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |         CAST(round(value * 100, 0) AS BIGINT) AS v
          |  FROM events),
          |st AS (
          |  SELECT user_id, ts_us, event_id, v,
          |         count(*) OVER wk AS n,
          |         sum(v) OVER wk AS s,
          |         sum(v::HUGEINT * v) OVER wk AS q,
          |         row_number() OVER wt AS rn
          |  FROM e
          |  WINDOW wk AS (PARTITION BY user_id),
          |         wt AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          |d AS (
          |  SELECT user_id, ts_us, event_id, rn, n,
          |         v::HUGEINT * n - s AS dev,
          |         n::HUGEINT * q - s::HUGEINT * s AS vr
          |  FROM st),
          |f AS (
          |  SELECT user_id, ts_us, event_id, rn, n, dev,
          |         (dev * dev * (n - 1) > 9 * n::HUGEINT * vr) AS b3,
          |         (dev * dev * (n - 1) > 4 * n::HUGEINT * vr) AS b2,
          |         (dev * dev * (n - 1) > 1 * n::HUGEINT * vr) AS b1
          |  FROM d),
          |w2 AS (
          |  SELECT user_id, n, rn, b3,
          |         sum(CASE WHEN b2 AND dev > 0 THEN 1 ELSE 0 END) OVER w3 AS p2,
          |         sum(CASE WHEN b2 AND dev < 0 THEN 1 ELSE 0 END) OVER w3 AS m2,
          |         sum(CASE WHEN b1 AND dev > 0 THEN 1 ELSE 0 END) OVER w5 AS p1,
          |         sum(CASE WHEN b1 AND dev < 0 THEN 1 ELSE 0 END) OVER w5 AS m1,
          |         sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END) OVER w8 AS pp,
          |         sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END) OVER w8 AS mm
          |  FROM f
          |  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
          |         w5 AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
          |         w8 AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
          |SELECT user_id, count(*)::BIGINT AS n,
          |       sum(CASE WHEN b3 THEN 1 ELSE 0 END)::BIGINT AS r1,
          |       sum(CASE WHEN rn >= 3 AND (p2 >= 2 OR m2 >= 2)
          |           THEN 1 ELSE 0 END)::BIGINT AS r2,
          |       sum(CASE WHEN rn >= 5 AND (p1 >= 4 OR m1 >= 4)
          |           THEN 1 ELSE 0 END)::BIGINT AS r3,
          |       sum(CASE WHEN rn >= 8 AND (pp = 8 OR mm = 8)
          |           THEN 1 ELSE 0 END)::BIGINT AS r4
          |FROM w2 GROUP BY user_id
          |ORDER BY user_id""".stripMargin)),

    // Pettitt changepoint census per user: the rank-based (outlier-immune)
    // "where does this series split into before/after regimes" locator —
    // the robust complement to the CUSUM census. Doubled average ranks
    // keep tie handling integer; |U| <= 2n^2 stays in int64 at any sf.
    QuerySpec("events_pettitt", (s, dir) => {
      Analytics.pettittCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |         CAST(round(value * 10000, 0) AS BIGINT) AS v
          |  FROM events),
          |r AS (
          |  SELECT user_id, v,
          |         count(*) OVER (PARTITION BY user_id) AS n,
          |         2 * rank() OVER (PARTITION BY user_id ORDER BY v)
          |           + count(*) OVER (PARTITION BY user_id, v) - 1 AS d,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts_us, event_id) AS t
          |  FROM e),
          |u AS (
          |  SELECT user_id, n, t,
          |         sum(d - n - 1) OVER (PARTITION BY user_id ORDER BY t
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ut
          |  FROM r),
          |w AS (
          |  SELECT user_id, n, t, ut, abs(ut) AS a,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY abs(ut) DESC, t) AS rn
          |  FROM u WHERE t < n)
          |SELECT user_id, n::BIGINT AS n, a::BIGINT AS k2_stat,
          |       t::BIGINT AS t_hat,
          |       (CASE WHEN ut > 0 THEN 1 WHEN ut < 0 THEN -1
          |             ELSE 0 END)::BIGINT AS direction
          |FROM w WHERE rn = 1
          |ORDER BY user_id""".stripMargin)),

    // Transposition-noise census: every customer name gets a deterministic
    // adjacent-character swap (position keyed by custkey), then per nation
    // we compare plain levenshtein against the native full
    // Damerau-Levenshtein — where they differ, a one-slip transposition
    // was being billed as two edits. Exercises the codegen'd
    // Lowrance-Wagner expression against DuckDB's full-variant builtin.
    QuerySpec("linkage_dl", (s, dir) => {
      import graft.functions.DamerauLevenshtein.damerauLevenshtein
      val p = (pmod(col("c_custkey"), (length(col("c_name")) - 1).cast("long")) + 1)
        .cast("int")
      val swapped = concat(
        col("c_name").substr(lit(1), p - 1),
        col("c_name").substr(p + 1, lit(1)),
        col("c_name").substr(p, lit(1)),
        col("c_name").substr(p + 2, lit(1000)))
      customer(s, dir)
        .select(col("c_nationkey"),
          levenshtein(col("c_name"), swapped).cast("long").as("lev"),
          damerauLevenshtein(col("c_name"), swapped).as("dl"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("lev")).as("sum_lev"),
          sum(col("dl")).as("sum_dl"),
          sum(when(col("lev") > col("dl"), 1L).otherwise(0L))
            .as("n_transposition_wins"))
        .orderBy(col("c_nationkey"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT c_nationkey, c_name,
          |         (c_custkey % (length(c_name) - 1) + 1)::INTEGER AS p
          |  FROM customer),
          |w AS (
          |  SELECT c_nationkey,
          |         levenshtein(c_name,
          |           substr(c_name, 1, p - 1) || substr(c_name, p + 1, 1) ||
          |           substr(c_name, p, 1) || substr(c_name, p + 2, 1000))::BIGINT
          |           AS lev,
          |         damerau_levenshtein(c_name,
          |           substr(c_name, 1, p - 1) || substr(c_name, p + 1, 1) ||
          |           substr(c_name, p, 1) || substr(c_name, p + 2, 1000))::BIGINT
          |           AS dl
          |  FROM s)
          |SELECT c_nationkey, count(*)::BIGINT AS n, sum(lev)::BIGINT AS sum_lev,
          |       sum(dl)::BIGINT AS sum_dl,
          |       sum(CASE WHEN lev > dl THEN 1 ELSE 0 END)::BIGINT
          |         AS n_transposition_wins
          |FROM w GROUP BY c_nationkey
          |ORDER BY c_nationkey""".stripMargin)),

    // Association-rule census over order baskets (which parts co-occur):
    // support/confidence/lift in exact integer ppm. Pairs come from a
    // self-join ON THE BASKET KEY (fanout Σ|basket|², never |items|²),
    // min-support cut on the aggregated pairs, marginals joined back.
    QuerySpec("basket_rules", (s, dir) => {
      Analytics.associationRules(lineitem(s, dir),
          col("l_orderkey"), col("l_partkey"), minSupport = 2)
        .orderBy(col("item_a"), col("item_b"))
    },
      note = Some(
        "pair volume = sum of |basket|^2 over baskets (the self-join keys on the basket id), " +
          "never |items|^2; marginals broadcast, grand total a 1-row broadcast. The basket " +
          "table is NOT pinned — its two self-join sides share one exchange (ReusedExchange)."),
      oracle = Some(
        """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
          |           FROM lineitem),
          |nb AS (SELECT count(DISTINCT bk)::HUGEINT AS N FROM b),
          |i AS (SELECT it, count(*)::HUGEINT AS ni FROM b GROUP BY 1),
          |p AS (SELECT l.it AS item_a, r.it AS item_b, count(*)::HUGEINT AS nab
          |      FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
          |      GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT p.item_a, p.item_b, nab::BIGINT AS n_ab,
          |       ((nab * 2000000 + N) // (N * 2))::BIGINT AS supp_ppm,
          |       ((nab * 2000000 + a.ni) // (a.ni * 2))::BIGINT AS conf_ab_ppm,
          |       ((nab * 2000000 + c.ni) // (c.ni * 2))::BIGINT AS conf_ba_ppm,
          |       ((nab * N * 2000000 + a.ni * c.ni)
          |        // (a.ni * c.ni * 2))::BIGINT AS lift_ppm
          |FROM p JOIN i a ON p.item_a = a.it
          |       JOIN i c ON p.item_b = c.it
          |       CROSS JOIN nb
          |ORDER BY item_a, item_b""".stripMargin)),

    // Flesch-Kincaid readability census per source — the complexity screen
    // next to the Gopher rules. Deterministic counting conventions (word/
    // sentence/vowel-group runs via codegen'd regexp_extract_all), grade
    // in exact clamped milli-units, round-half-up divisions only.
    QuerySpec("text_readability", (s, dir) => {
      TextAnalysis.readabilityCensus(documents(s, dir), Seq(col("source")),
          col("text"))
        .select(col("source"), col("n_docs"), col("mean_grade_milli"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH g AS (
          |  SELECT source,
          |         len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS w,
          |         greatest(1,
          |           len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS s,
          |         len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT AS syl
          |  FROM documents),
          |d AS (
          |  SELECT source,
          |         greatest(0, (390 * w * 2 + s) // (s * 2)
          |                     + (11800 * syl * 2 + w) // (w * 2) - 15590) AS grade
          |  FROM g WHERE w > 0)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |       ((sum(grade) * 2 + count(*))
          |        // (count(*) * 2))::BIGINT AS mean_grade_milli
          |FROM d GROUP BY source
          |ORDER BY source""".stripMargin)),

    // First-order Markov transition census over per-user event sequences —
    // the sequence-mining companion to funnel/cohort: which step follows
    // which, with conditional probability in integer ppm (pure integer
    // round-half-up; no float anywhere). Per-key lead() shards by user;
    // the census is a hash agg on at most |states|² rows.
    QuerySpec("events_transitions", (s, dir) => {
      Analytics.transitionCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), "event_type")
        .orderBy(col("from_state"), col("to_state"))
    },
      oracle = Some(
        """WITH p AS (
          |  SELECT event_type AS from_state,
          |         lead(event_type) OVER (PARTITION BY user_id
          |           ORDER BY epoch_ns(ts) // 1000, event_id) AS to_state
          |  FROM events),
          |c AS (
          |  SELECT from_state, to_state, count(*)::BIGINT AS n
          |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
          |t AS (
          |  SELECT *, sum(n) OVER (PARTITION BY from_state) AS tot FROM c)
          |SELECT from_state, to_state, n,
          |       ((n * 2000000 + tot) // (tot * 2))::BIGINT AS p_ppm
          |FROM t
          |ORDER BY from_state, to_state""".stripMargin)),

    // Per-segment OLS trend fit (value drift over time per event type) from
    // exact decimal moment sums — deliberately NOT regr_slope/intercept,
    // whose double accumulation order makes a distributed run unverifiable
    // against a single-threaded oracle. One two-level hash agg, one row per
    // group, closed-form slope/intercept from identical integers.
    QuerySpec("q_regression_per_group", (s, dir) => {
      // x in kilo-seconds since 2024-01-01 (non-negative, so truncating
      // `div` ≡ DuckDB's flooring `//`): keeps every moment difference
      // inside int64 through sf1, where the oracle's BIGINT→DOUBLE cast is
      // a single correctly-rounded hardware op (DuckDB's HUGEINT→DOUBLE is
      // NOT correctly rounded — measured 1-ulp off on negative >2⁵³ values)
      Analytics.regressionPerGroup(events(s, dir),
          Seq(col("event_type")),
          x = expr("(unix_timestamp(ts) - 1704067200) div 1000"),
          y = round(col("value") * 10000, 0).cast("long"),
          scale = 8)
        .select(col("event_type"), col("n"), col("slope"), col("intercept"))
        .orderBy(col("event_type"))
    },
      // exact HUGEINT moments, but every →DOUBLE conversion routed through
      // ::BIGINT: DuckDB's HUGEINT→DOUBLE is not correctly rounded (1 ulp off
      // on negative >2⁵³ values — measured), while BIGINT→DOUBLE is a single
      // hardware cvt. x in kilo-seconds keeps all differences inside int64.
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type,
          |         ((epoch_ns(ts) // 1000000000 - 1704067200) // 1000)::HUGEINT AS x,
          |         CAST(round(value * 10000, 0) AS BIGINT)::HUGEINT AS y
          |  FROM events),
          |a AS (
          |  SELECT event_type, count(*)::HUGEINT AS n,
          |         sum(x) AS sx, sum(y) AS sy,
          |         sum(x * y) AS sxy, sum(x * x) AS sxx
          |  FROM e GROUP BY 1),
          |d AS (
          |  SELECT event_type, n::BIGINT::DOUBLE AS nd,
          |         (n * sxy - sx * sy)::BIGINT::DOUBLE AS num,
          |         (n * sxx - sx * sx)::BIGINT::DOUBLE AS det,
          |         sx::BIGINT::DOUBLE AS sxd, sy::BIGINT::DOUBLE AS syd
          |  FROM a)
          |SELECT event_type, nd::BIGINT AS n,
          |       floor(num / det * 100000000.0 + 0.5)::BIGINT
          |         / 100000000.0 AS slope,
          |       floor((syd - num / det * sxd)
          |             / nd * 100000000.0 + 0.5)::BIGINT
          |         / 100000000.0 AS intercept
          |FROM d
          |WHERE det > 0
          |ORDER BY event_type""".stripMargin)),

    // Shannon entropy (nats) of the language distribution per source — the
    // corpus-diversity / label-skew monitor. Counts aggregate exactly; the
    // single float step (Σ c·ln c over ≤ a few categories) sits far inside
    // the 6dp round.
    QuerySpec("source_lang_entropy", (s, dir) => {
      Analytics.categoricalEntropy(documents(s, dir),
          Seq(col("source")), col("lang"))
        .select(col("source"), col("n_cats"), col("entropy"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH c AS (
          |  SELECT source, lang, count(*)::BIGINT AS c
          |  FROM documents GROUP BY 1, 2)
          |SELECT source, count(*)::BIGINT AS n_cats,
          |       round(ln(sum(c)::DOUBLE)
          |             - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c), 6) AS entropy
          |FROM c GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Mixture-drift monitor: KL divergence of each source's language mix
    // against the corpus blend. One corpus hash agg to joint counts; the
    // divergence math runs on the compact count table (marginals broadcast).
    QuerySpec("mixture_kl", (s, dir) => {
      Analytics.klDivergence(documents(s, dir), Seq(col("source")), col("lang"))
        .select(col("source"), col("n_rows"), col("n_cats"), col("kl"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH j AS (SELECT source, lang, count(*)::BIGINT AS ngc
          |           FROM documents GROUP BY 1, 2),
          |g AS (SELECT source, sum(ngc)::BIGINT AS ng FROM j GROUP BY 1),
          |c AS (SELECT lang, sum(ngc)::BIGINT AS nc FROM j GROUP BY 1),
          |n AS (SELECT sum(nc)::BIGINT AS n FROM c)
          |SELECT j.source, max(g.ng)::BIGINT AS n_rows, count(*)::BIGINT AS n_cats,
          |       round(sum(ngc::DOUBLE * (ln(ngc::DOUBLE) + ln(n.n::DOUBLE)
          |                                - ln(g.ng::DOUBLE) - ln(c.nc::DOUBLE)))
          |             / max(g.ng)::DOUBLE, 6) AS kl
          |FROM j JOIN g USING (source) JOIN c USING (lang), n
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Independence census: per-source Pearson chi-square contribution of
    // the lang×source table (textbook form incl. unobserved cells, which
    // are synthesised by crossing the tiny marginal tables).
    QuerySpec("mixture_chi2", (s, dir) => {
      Analytics.chiSquare(documents(s, dir), col("source"), col("lang"))
        .select(col("row_cat").as("source"), col("n_rows"), col("n_cells"), col("chi2"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH j AS (SELECT source AS r, lang AS cst, count(*)::BIGINT AS o
          |           FROM documents GROUP BY 1, 2),
          |rt AS (SELECT r, sum(o)::BIGINT AS nr FROM j GROUP BY 1),
          |ct AS (SELECT cst, sum(o)::BIGINT AS nc FROM j GROUP BY 1),
          |n AS (SELECT sum(nc)::BIGINT AS n FROM ct),
          |cells AS (
          |  SELECT rt.r, ct.cst, rt.nr,
          |         coalesce(j.o, 0)::DOUBLE AS od,
          |         rt.nr::DOUBLE * ct.nc::DOUBLE / n.n::DOUBLE AS e
          |  FROM rt CROSS JOIN ct CROSS JOIN n
          |  LEFT JOIN j ON j.r = rt.r AND j.cst = ct.cst)
          |SELECT r AS source, max(nr)::BIGINT AS n_rows, count(*)::BIGINT AS n_cells,
          |       round(sum((od - e) * (od - e) / e), 6) AS chi2
          |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin)),

    // OHLC downsample: per-user daily bars (open/close = min_by/max_by row
    // selections under a total order, no float arithmetic; sums in exact
    // micro-units). ONE map-side-combined hash agg — no sort anywhere.
    QuerySpec("events_ohlc", (s, dir) => {
      Timeseries.resampleOhlc(events(s, dir), col("user_id"), col("ts"),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"), 86400L)
        .select(col("__k").as("user_id"), col("bucket_s"), col("open"),
          col("high"), col("low"), col("close"), col("n_events"), col("sum_u"))
        .orderBy(col("user_id"), col("bucket_s"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
          |         (epoch_ns(ts) // 1000000000 // 86400) * 86400 AS bucket_s, value
          |  FROM events),
          |r AS (
          |  SELECT *,
          |         row_number() OVER (PARTITION BY user_id, bucket_s
          |                            ORDER BY ts_us, event_id) AS ra,
          |         row_number() OVER (PARTITION BY user_id, bucket_s
          |                            ORDER BY ts_us DESC, event_id DESC) AS rd
          |  FROM e)
          |SELECT user_id, bucket_s,
          |       round(max(CASE WHEN ra = 1 THEN value END), 2) AS open,
          |       round(max(value), 2) AS high,
          |       round(min(value), 2) AS low,
          |       round(max(CASE WHEN rd = 1 THEN value END), 2) AS close,
          |       count(*)::BIGINT AS n_events,
          |       sum(CAST(round(value * 10000, 0) AS BIGINT))::BIGINT AS sum_u
          |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Scale path of q_winsorize: GK-sketch boundaries (map-side partial
    // merge, no multiset, no sort) + the identical clamp. Rows-only —
    // boundaries are sketch-dependent; invariants spec'd, exact form is
    // the oracle anchor.
    QuerySpec("q_winsorize_scale", (s, dir) => {
      Analytics.winsorizedStatsApprox(events(s, dir), Seq(col("event_type")),
          col("value"), pLo = 5, pHi = 95)
        .select(col("event_type"), col("n_rows"), col("lo"), col("hi"),
          col("n_clipped_lo"), col("n_clipped_hi"), col("sum_u"))
        .orderBy(col("event_type"))
    },
      twin = Some("q_winsorize")),

    // Semi-structured VARIANT path (Spark 4): nested JSON built in-plan,
    // parsed ONCE to the binary VARIANT encoding, then typed path
    // extraction — the modern engine shape for schema-on-read columns
    // (parse once, extract many, no per-path re-parse like
    // get_json_object). Oracle replays the same paths over DuckDB JSON.
    QuerySpec("q_json_variant", (s, dir) => {
      val js = concat(lit("{\"doc\": "), col("doc_id"),
        lit(", \"meta\": {\"lang\": \""), col("lang"),
        lit("\", \"n\": "), col("n_chars"),
        lit("}, \"tags\": [\""), col("source"),
        lit("\", \"t"), pmod(col("doc_id"), lit(5)),
        lit("\"]}"))
      documents(s, dir).withColumn("v", parse_json(js))
        .select(
          variant_get(col("v"), "$.meta.lang", "string").as("vlang"),
          variant_get(col("v"), "$.tags[1]", "string").as("tag"),
          variant_get(col("v"), "$.meta.n", "bigint").as("n"))
        .groupBy(col("vlang"), col("tag"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_n"))
        .orderBy(col("vlang"), col("tag"))
    },
      oracle = Some(
        """WITH j AS (
          |  SELECT '{"doc": ' || doc_id || ', "meta": {"lang": "' || lang ||
          |         '", "n": ' || n_chars || '}, "tags": ["' || source ||
          |         '", "t' || (doc_id % 5) || '"]}' AS js
          |  FROM documents)
          |SELECT json_extract_string(js, '$.meta.lang') AS vlang,
          |       json_extract_string(js, '$.tags[1]') AS tag,
          |       count(*)::BIGINT AS n_docs,
          |       sum(json_extract(js, '$.meta.n')::BIGINT)::BIGINT AS sum_n
          |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Bollinger-band breach census: rows leaving the rolling mean ± 2σ
    // band of the trailing 20 observations — the squared cross-multiplied
    // form keeps EVERYTHING integer (no σ, no sqrt, no division), so the
    // census is bit-exact cross-engine. One per-key window pass + hash agg.
    QuerySpec("events_bollinger", (s, dir) => {
      Analytics.bollingerCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          frameRows = 20, k = 2)
        .select(col("user_id"), col("n_eval"), col("n_breaches"), col("first_breach"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |           FROM events),
          |m AS (SELECT user_id, vu,
          |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS i,
          |        count(*) OVER fr AS n, sum(vu) OVER fr AS sx,
          |        sum(vu * vu) OVER fr AS sxx
          |      FROM e
          |      WINDOW fr AS (PARTITION BY user_id ORDER BY ts_us, event_id
          |                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
          |f AS (SELECT user_id, i,
          |             (vu * n - sx) * (vu * n - sx) * (n - 1) >
          |               4 * n * (n * sxx - sx * sx) AS b
          |      FROM m WHERE n = 20)
          |SELECT user_id, count(*)::BIGINT AS n_eval,
          |       sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_breaches,
          |       min(CASE WHEN b THEN i END)::BIGINT AS first_breach
          |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Robust rolling-outlier census — the median/MAD twin of
    // events_bollinger: a spike inside the frame shifts a mean/σ band
    // enough to mask the NEXT anomaly but barely moves the median/MAD.
    // Odd frame → lower median IS the median; median, deviations, and MAD
    // are exact micro-unit integers and |v−med| > k·MAD never touches a
    // float. One frame-bounded window pass + one hash agg.
    QuerySpec("events_rolling_median", (s, dir) => {
      Analytics.rollingMadCensus(events(s, dir), "user_id",
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          frameRows = 7, k = 3)
        .select(col("user_id"), col("n_eval"), col("n_outliers"), col("first_outlier"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |           FROM events WHERE value IS NOT NULL),
          |f AS (SELECT user_id, vu,
          |        row_number() OVER w AS i,
          |        list(vu) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
          |      FROM e
          |      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          |m AS (SELECT user_id, vu, i, arr, list_sort(arr)[4] AS med
          |      FROM f WHERE len(arr) = 7),
          |d AS (SELECT user_id, i,
          |             abs(vu - med) > 3 * list_sort([abs(x - med) for x in arr])[4] AS b
          |      FROM m)
          |SELECT user_id, count(*)::BIGINT AS n_eval,
          |       sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
          |       min(CASE WHEN b THEN i END)::BIGINT AS first_outlier
          |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Time-weighted average per user: each reading holds until the next
    // (step-function integral / elapsed time) — the irregular-sampling
    // mean a plain AVG gets wrong on bursty streams. Micro-units ×
    // whole-ms durations sum as DECIMAL(38,0); one lead window pass + one
    // hash agg, final division is the family's floor-rounding.
    QuerySpec("events_twap", (s, dir) => {
      Timeseries.timeWeightedAvg(events(s, dir), col("user_id"),
          unix_micros(col("ts")),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"))
        .select(col("__k").as("user_id"), col("n_segments"), col("dur_ms"),
          col("twavg"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |           FROM events),
          |s AS (SELECT user_id, vu, ts_us,
          |             lead(ts_us) OVER (PARTITION BY user_id
          |                               ORDER BY ts_us, event_id) AS next_ts
          |      FROM e),
          |seg AS (SELECT user_id, vu, (next_ts - ts_us) // 1000 AS dur_ms
          |        FROM s WHERE next_ts IS NOT NULL),
          |a AS (SELECT user_id, count(*)::BIGINT AS n_segments,
          |             sum(dur_ms)::BIGINT AS dur_ms,
          |             sum(vu::HUGEINT * dur_ms) AS num
          |      FROM seg GROUP BY 1)
          |SELECT user_id, n_segments, dur_ms,
          |       floor(num::DOUBLE / dur_ms::DOUBLE + 0.5) / 10000 AS twavg
          |FROM a WHERE dur_ms > 0 ORDER BY user_id""".stripMargin)),

    // Hour-of-day seasonal profile per event type (ratio-to-overall
    // decomposition): phase mean ÷ type mean, cross-multiplied into exact
    // DECIMAL(38,0) products. One corpus hash agg → |types·24| rows; the
    // per-type totals window runs over THAT bounded table only.
    QuerySpec("events_seasonal", (s, dir) => {
      Timeseries.seasonalIndex(events(s, dir), col("event_type"),
          hour(col("ts")).cast("long"), col("value"))
        .select(col("__k").as("event_type"), col("__p").as("hr"), col("n"),
          col("idx"))
        .orderBy(col("event_type"), col("hr"))
    },
      oracle = Some(
        """WITH e AS (SELECT event_type, hour(ts)::BIGINT AS hr,
          |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |           FROM events),
          |g AS (SELECT event_type, hr, count(*)::BIGINT AS n,
          |             sum(vu)::BIGINT AS sum_u
          |      FROM e GROUP BY 1, 2),
          |t AS (SELECT event_type, hr, n, sum_u,
          |             sum(n) OVER (PARTITION BY event_type) AS tn,
          |             sum(sum_u) OVER (PARTITION BY event_type) AS tsum
          |      FROM g)
          |SELECT event_type, hr, n,
          |       floor((sum_u::HUGEINT * tn)::DOUBLE / (n::HUGEINT * tsum)::DOUBLE
          |             * 10000 + 0.5) / 10000 AS idx
          |FROM t WHERE tsum > 0 ORDER BY 1, 2""".stripMargin)),

    // Distinct-user overlap across half-years from two persisted THETA
    // set states — |A|, |B|, |A∩B|, |A∪B|, |A\B| per event type with NO
    // rescan of either half (theta sketches close under union/
    // intersection/difference, unlike HLL's union-only). Rows-tier: the
    // estimates are sketch-family-dependent; IncrementalSuite pins
    // exactness below sketch capacity and the set-algebra identities.
    QuerySpec("events_user_overlap", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp") // events span Jan 2024
      val keys = Seq(col("event_type"))
      val a = Incremental.setState(e.filter(col("ts") < cut), keys, col("user_id"))
      val b = Incremental.setState(e.filter(col("ts") >= cut), keys, col("user_id"))
      Incremental.setOverlap(Seq("event_type"), a, b)
        .orderBy(col("event_type"))
    },
      twin = Some("events_user_overlap_exact")),

    // The SAME theta set algebra in its EXACT regime: below 2^lgK retained
    // hashes a theta sketch stores EVERY distinct hash (theta = 1), so
    // estimate == exact distinct count and union/intersection/difference
    // are exact set operations — which hands the whole persisted-state
    // serving path (sketch agg, intersection, AnotB, union, estimate) a
    // DuckDB set-algebra oracle. The third generated-oracle conversion
    // after BPE and Misra-Gries. The premise is ENFORCED in the plan: an
    // assert on the true distinct-user count raises loudly if a corpus
    // ever outgrows the exact range, instead of failing the gate with an
    // estimate-vs-exact diff.
    QuerySpec("events_user_overlap_exact", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      val keys = Seq(col("event_type"))
      val guard = e.agg(countDistinct(col("user_id")).as("__nd"))
      val a = Incremental.setState(e.filter(col("ts") < cut), keys, col("user_id"))
      val b = Incremental.setState(e.filter(col("ts") >= cut), keys, col("user_id"))
      Guards.inPlanAssert(
          Incremental.setOverlap(Seq("event_type"), a, b),
          guard, col("__nd") <= 4096,
          "events_user_overlap_exact: distinct users exceed the theta " +
            "exact range (2^12 retained hashes) — estimates would diverge from " +
            "the set oracle; use events_user_overlap (sketch regime)")
        .orderBy(col("event_type"))
    },
      twin = Some("events_user_overlap"),
      // theta set algebra in its exact regime: plain set operations on the
      // distinct (event_type, user_id) pairs of the two halves
      oracle = Some(
        """WITH a AS (SELECT DISTINCT event_type, user_id FROM events
          |           WHERE ts < TIMESTAMP '2024-01-16'),
          |b AS (SELECT DISTINCT event_type, user_id FROM events
          |      WHERE ts >= TIMESTAMP '2024-01-16'),
          |ka AS (SELECT event_type, count(*)::BIGINT AS n_a FROM a GROUP BY 1),
          |kb AS (SELECT event_type, count(*)::BIGINT AS n_b FROM b GROUP BY 1),
          |nboth AS (SELECT event_type, count(*)::BIGINT AS n_both
          |          FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY 1),
          |neither AS (SELECT event_type, count(*)::BIGINT AS n_either
          |            FROM (SELECT * FROM a UNION SELECT * FROM b) GROUP BY 1),
          |nonly AS (SELECT event_type, count(*)::BIGINT AS n_only_a
          |          FROM (SELECT * FROM a EXCEPT SELECT * FROM b) GROUP BY 1)
          |SELECT ka.event_type, n_a, n_b,
          |       coalesce(n_both, 0)::BIGINT AS n_both,
          |       n_either,
          |       coalesce(n_only_a, 0)::BIGINT AS n_only_a
          |FROM ka
          |JOIN kb USING (event_type)
          |JOIN neither USING (event_type)
          |LEFT JOIN nboth USING (event_type)
          |LEFT JOIN nonly USING (event_type)
          |ORDER BY event_type""".stripMargin)),

    // The KLL quantile state in its EXACT regime: while a group's count
    // stays ≤ k the sketch never compacts — no random coins, every item
    // retained — so merged-state quantiles ARE order statistics, and the
    // DataSketches INCLUSIVE rank rule (smallest item whose rank/n ≥ p)
    // coincides with DuckDB's quantile_disc (probed: identical at n=4/5/8
    // and through the merge path). That hands the whole maintenance path
    // (agg → serialize → sorted pairwise merge fold → quantile eval) a
    // SQL oracle — the fourth generated-oracle conversion after BPE,
    // Misra-Gries, and theta. Probabilities are binary-exact (1/4, 1/2,
    // 3/4, 7/8) so the ceil(p·n) boundary can't flip on float rounding in
    // either engine; value is floored to micro-units in BOTH engines
    // (DuckDB's double→BIGINT cast rounds where Spark's truncates — floor
    // first makes the quantized longs identical). The premise is ENFORCED
    // in the plan: an assert on the max per-group count raises loudly if
    // a corpus outgrows the exact range, instead of failing the gate with
    // a sketch-estimate-vs-exact diff.
    QuerySpec("events_quantiles_exact", (s, dir) => {
      val e = events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      val k = 32768
      val v = floor(col("value") * lit(1000000.0d)).cast("long")
      val keys = Seq(col("event_type"))
      val guard = e.groupBy(col("event_type")).count()
        .agg(max(col("count")).as("__mx"))
      val a = Incremental.quantileState(e.filter(col("ts") < cut), keys, v, k)
      val b = Incremental.quantileState(e.filter(col("ts") >= cut), keys, v, k)
      val m = Incremental.mergeQuantileStates(Seq("event_type"), a, b)
      Guards.inPlanAssert(
          Incremental.finishQuantiles(m, Seq("event_type"),
            Seq(0.25, 0.5, 0.75, 0.875)),
          guard, col("__mx") <= k,
          "events_quantiles_exact: a group outgrew the KLL exact range " +
            s"(k=$k retained items) — compaction would turn quantiles into " +
            "sketch estimates; raise k or use the rank-error spec tier")
        .orderBy(col("event_type"))
    },
      // KLL quantile maintenance in its exact regime: the merged states
      // retain every item, so the serving quantiles are plain inclusive
      // order statistics — quantile_disc on the identically-quantized longs
      oracle = Some(
        """SELECT event_type,
          |       quantile_disc(v, 0.25)  AS q_p25,
          |       quantile_disc(v, 0.5)   AS q_p50,
          |       quantile_disc(v, 0.75)  AS q_p75,
          |       quantile_disc(v, 0.875) AS q_p88
          |FROM (SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v
          |      FROM events)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Snapshot diff audit: synthetic "tomorrow" snapshot (every 97th doc
    // deleted, every 41st revised, every 89th re-added under a new id)
    // diffed against today's by md5 fingerprint — one full outer join
    // carrying (id, hash), bodies never shuffle. Census per change kind.
    QuerySpec("corpus_diff", (s, dir) => {
      val a = documents(s, dir)
      val b = a.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(41)) === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .unionByName(
          a.filter(pmod(col("doc_id"), lit(89)) === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L))
      Profile.snapshotDiff(a, b, "doc_id", "text")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("first_id"))
        .orderBy(col("change"))
    },
      oracle = Some(
        """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
          |b0 AS (SELECT doc_id,
          |              CASE WHEN doc_id % 41 = 0 THEN text || ' rev2' ELSE text END AS text
          |       FROM documents WHERE doc_id % 97 <> 0),
          |b1 AS (SELECT doc_id + 1000000 AS doc_id, text
          |       FROM documents WHERE doc_id % 89 = 0),
          |b AS (SELECT doc_id, md5(text) AS h FROM
          |        (SELECT * FROM b0 UNION ALL SELECT * FROM b1)),
          |d AS (SELECT coalesce(a.doc_id, b.doc_id) AS id,
          |             CASE WHEN b.h IS NULL THEN 'removed'
          |                  WHEN a.h IS NULL THEN 'added'
          |                  WHEN a.h <> b.h THEN 'changed'
          |                  ELSE 'unchanged' END AS change
          |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
          |SELECT change, count(*)::BIGINT AS n, min(id)::BIGINT AS first_id
          |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CUSUM changepoint census per user (Page 1954): mean-centered
    // cumulative deviation in the n-scaled integer form (no division, no
    // float anywhere), crossings flagged against a 300-unit excursion
    // budget. One per-key window pass + one hash agg.
    QuerySpec("events_cusum", (s, dir) => {
      Analytics.cusumCensus(events(s, dir), col("user_id"),
          Seq(unix_micros(col("ts")), col("event_id")), col("value"),
          thresholdUnits = 300.0)
        .select(col("__k").as("user_id"), col("n_events"), col("n_crossings"),
          col("max_dev_u"), col("first_cross"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
          |                  CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |           FROM events),
          |w AS (SELECT user_id,
          |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS i,
          |        sum(vu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |        count(*) OVER (PARTITION BY user_id) AS n,
          |        sum(vu) OVER (PARTITION BY user_id) AS s
          |      FROM e),
          |c AS (SELECT user_id, i, n, n * cum - i * s AS cdev FROM w)
          |SELECT user_id, max(n)::BIGINT AS n_events,
          |       sum(CASE WHEN abs(cdev) > 3000000 * n THEN 1 ELSE 0 END)::BIGINT
          |         AS n_crossings,
          |       (max(abs(cdev)) // max(n))::BIGINT AS max_dev_u,
          |       min(CASE WHEN abs(cdev) > 3000000 * n THEN i END)::BIGINT AS first_cross
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Declarative data-quality expectations over lineitem: range / domain /
    // uniqueness checks fold into ONE aggregate over ONE scan (adding a
    // check never rescans); the FK check is a broadcast anti-join pass.
    // qty_breaks_at_45 is a deliberately failing check so the report shape
    // includes real violations.
    QuerySpec("q_expectations", (s, dir) => {
      Profile.expectations(
          lineitem(s, dir),
          rowChecks = Seq(
            "qty_in_range" -> col("l_quantity").between(1, 50),
            "discount_in_range" -> col("l_discount").between(0.0, 0.1),
            "price_positive" -> (col("l_extendedprice") > 0),
            "returnflag_valid" -> col("l_returnflag").isin("A", "N", "R"),
            "qty_breaks_at_45" -> (col("l_quantity") <= 45)),
          uniqueCols = Seq("l_orderkey"),
          fkChecks = Seq(("fk_order_exists", orders(s, dir), "l_orderkey", "o_orderkey")))
        .orderBy(col("check_name"))
    },
      oracle = Some(
        """WITH agg AS (
          |  SELECT count(*)::BIGINT AS n_rows,
          |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)::BIGINT AS v_qty,
          |    sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)::BIGINT AS v_disc,
          |    sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)::BIGINT AS v_price,
          |    sum(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 0 ELSE 1 END)::BIGINT AS v_flag,
          |    sum(CASE WHEN l_quantity <= 45 THEN 0 ELSE 1 END)::BIGINT AS v_q45,
          |    (count(l_orderkey) - count(DISTINCT l_orderkey))::BIGINT AS v_uniq
          |  FROM lineitem),
          |fk AS (SELECT count(*)::BIGINT AS v_fk
          |       FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |       WHERE o.o_orderkey IS NULL)
          |SELECT check_name, n_rows, n_violations,
          |       CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
          |FROM (
          |  SELECT 'qty_in_range' AS check_name, n_rows, v_qty AS n_violations FROM agg
          |  UNION ALL SELECT 'discount_in_range', n_rows, v_disc FROM agg
          |  UNION ALL SELECT 'price_positive', n_rows, v_price FROM agg
          |  UNION ALL SELECT 'returnflag_valid', n_rows, v_flag FROM agg
          |  UNION ALL SELECT 'qty_breaks_at_45', n_rows, v_q45 FROM agg
          |  UNION ALL SELECT 'unique_l_orderkey', n_rows, v_uniq FROM agg
          |  UNION ALL SELECT 'fk_order_exists', n_rows, v_fk FROM agg, fk
          |) ORDER BY check_name""".stripMargin)),

    // 3-step sequence mining: the most frequent event-type trigram paths
    // across per-user timelines (the PrefixSpan-lite census behind funnel
    // discovery). Two leads over one per-user sort, then a hash agg on at
    // most |types|³ rows; total (n desc, steps) order makes the top-20 cut
    // deterministic.
    QuerySpec("events_sequences", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      events(s, dir)
        .withColumn("s2", lead(col("event_type"), 1).over(w))
        .withColumn("s3", lead(col("event_type"), 2).over(w))
        .filter(col("s3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("s2").as("step2"),
          col("s3").as("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us, event_id
          |           FROM events),
          |l AS (SELECT user_id, event_type AS step1,
          |             lead(event_type, 1) OVER w AS step2,
          |             lead(event_type, 2) OVER w AS step3
          |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
          |SELECT step1, step2, step3, count(*)::BIGINT AS n
          |FROM l WHERE step3 IS NOT NULL
          |GROUP BY 1, 2, 3
          |ORDER BY n DESC, step1, step2, step3
          |LIMIT 20""".stripMargin)),

    // Exact triangle census over the co-ordered-parts graph of URGENT
    // orders (parts sharing an order are adjacent) — degree-ordered
    // orientation bounds wedge fanout by out-degree ≤ O(√E), the trick
    // that keeps hub vertices from melting the join at scale. Exact
    // integer counts, fully oracle-able. One priority class keeps the
    // co-occurrence graph's density (wedge count grows ~quadratically in
    // mean degree) at census scale; the operator itself is density-agnostic.
    QuerySpec("graph_triangles", (s, dir) => {
      val urgent = orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
      val e = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      Graph.triangleCount(e)
    },
      note = Some(
        "wedge volume grows ~quadratically in mean degree (this query pins density via one " +
          "order-priority class). The degree-ordered orientation bounds per-vertex wedge " +
          "fanout at out-degree <= O(sqrt E) — audit for the oriented-edge exchange being " +
          "keyed on the apex vertex, never a broadcast of the corpus."),
      oracle = Some(
        """WITH urgent AS (SELECT o_orderkey FROM orders
          |               WHERE o_orderpriority = '1-URGENT'),
          |li AS (SELECT l.l_orderkey, l.l_partkey
          |       FROM lineitem l JOIN urgent u ON l.l_orderkey = u.o_orderkey),
          |e0 AS (
          |  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |deg AS (SELECT v, count(*)::BIGINT AS d
          |        FROM (SELECT lo AS v FROM e0 UNION ALL SELECT hi FROM e0)
          |        GROUP BY 1),
          |wd AS (SELECT u.lo, u.hi, dl.d AS dlo, dh.d AS dhi
          |       FROM e0 u JOIN deg dl ON u.lo = dl.v JOIN deg dh ON u.hi = dh.v),
          |o AS (SELECT CASE WHEN (dlo, lo) < (dhi, hi) THEN lo ELSE hi END AS a,
          |             CASE WHEN (dlo, lo) < (dhi, hi) THEN hi ELSE lo END AS b,
          |             CASE WHEN (dlo, lo) < (dhi, hi) THEN dhi ELSE dlo END AS db
          |      FROM wd),
          |w AS (SELECT e1.b AS x, e2.b AS y
          |      FROM o e1 JOIN o e2
          |        ON e1.a = e2.a AND (e1.db, e1.b) < (e2.db, e2.b)),
          |t AS (SELECT count(*)::BIGINT AS n_triangles
          |      FROM w JOIN o e3 ON w.x = e3.a AND w.y = e3.b)
          |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_vertices,
          |       (SELECT count(*) FROM e0)::BIGINT AS n_edges,
          |       t.n_triangles
          |FROM t""".stripMargin)),

    // Full outer join — the reconciliation shape: high-balance customers
    // vs per-customer order activity, censused by match side. Money folds
    // to exact integer cents before any sum.
    QuerySpec("q_outer_join", (s, dir) => {
      val hi = customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val oc = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      hi.join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
        .groupBy(
          when(col("c_custkey").isNull, lit("order_only"))
            .when(col("o_custkey").isNull, lit("cust_only"))
            .otherwise(lit("both")).as("side"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("n_orders"), lit(0L))).as("total_orders"),
          sum(coalesce(col("cents"), lit(0L))).as("total_cents"))
        .orderBy(col("side"))
    },
      oracle = Some(
        """WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
          |oc AS (SELECT o_custkey, count(*)::BIGINT AS n_orders,
          |              sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS cents
          |       FROM orders GROUP BY 1)
          |SELECT CASE WHEN hi.c_custkey IS NULL THEN 'order_only'
          |            WHEN oc.o_custkey IS NULL THEN 'cust_only'
          |            ELSE 'both' END AS side,
          |       count(*)::BIGINT AS n,
          |       sum(coalesce(n_orders, 0))::BIGINT AS total_orders,
          |       sum(coalesce(cents, 0))::BIGINT AS total_cents
          |FROM hi FULL OUTER JOIN oc ON hi.c_custkey = oc.o_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental aggregate maintenance — the daily-ingest shape: fold a
    // delta batch's partial-aggregate state into the historical state
    // instead of re-scanning the corpus. Here the 1999+ orders arrive as
    // the delta against the pre-1999 base; merged state must equal the
    // full recompute EXACTLY (integer cents, mergeable count/sum/min/max),
    // which is precisely what the oracle's one-shot GROUP BY checks. At
    // 100 TB the merge step scans |groups| rows + the delta — never the
    // base corpus. (The state also carries a mergeable HLL sketch for
    // distinct customers; dropped here so the query stays oracle-exact —
    // Catalyst prunes the sketch agg away — and spec-checked instead.)
    QuerySpec("agg_incremental", (s, dir) => {
      val o = orders(s, dir).select(
        col("o_orderpriority"), col("o_orderstatus"),
        col("o_orderdate"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val cutoff = lit("1999-01-01").cast("timestamp")
      val keys = Seq(col("o_orderpriority"), col("o_orderstatus"))
      val keyNames = Seq("o_orderpriority", "o_orderstatus")
      val base = Incremental.state(
        o.filter(col("o_orderdate") < cutoff), keys, col("cents"), col("o_custkey"))
      val delta = Incremental.state(
        o.filter(col("o_orderdate") >= cutoff), keys, col("cents"), col("o_custkey"))
      Incremental.finish(Incremental.merge(keyNames, base, delta), keyNames)
        .drop("n_distinct_approx")
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    },
      oracle = Some(
        """WITH o AS (
          |  SELECT o_orderpriority, o_orderstatus,
          |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          |  FROM orders)
          |SELECT o_orderpriority, o_orderstatus,
          |       count(*)::BIGINT AS n,
          |       sum(cents)::BIGINT AS sum_u,
          |       min(cents)::BIGINT AS min_u,
          |       max(cents)::BIGINT AS max_u,
          |       round(sum(cents)::DOUBLE / count(*), 4) AS avg_u
          |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Incremental TOP-K maintenance: per-priority best-5 orders by price,
    // maintained as a mergeable k-bounded state — top-k under the total
    // order (score desc, id asc) is a monoid, so base ∪ delta folds with
    // NO approximation and the daily merge re-ranks |groups|·k state rows,
    // never the corpus. Oracle = DuckDB row_number over the full table:
    // merged state ≡ one-shot recompute, bit-exact (cents ride a double
    // losslessly — far below 2^53).
    QuerySpec("agg_incremental_topk", (s, dir) => {
      val o = orders(s, dir).select(
        col("o_orderpriority"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val cutoff = lit("1996-01-01").cast("timestamp")
      val keys = Seq(col("o_orderpriority"))
      val keyNames = Seq("o_orderpriority")
      def stTop(df: DataFrame) = Incremental.topKState(
        df, keys, col("cents").cast("double"), col("o_orderkey"), k = 5)
      val base = stTop(o.filter(col("o_orderdate") < cutoff))
      val delta = stTop(o.filter(col("o_orderdate") >= cutoff))
      Incremental.finishTopK(
          Incremental.mergeTopK(keyNames, 5, base, delta), keyNames)
        .select(col("o_orderpriority"), col("rank").cast("long").as("rank"),
          col("id").as("o_orderkey"), col("score").cast("long").as("cents"))
        .orderBy(col("o_orderpriority"), col("rank"))
    },
      oracle = Some(
        """WITH o AS (
          |  SELECT o_orderpriority, o_orderkey,
          |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          |  FROM orders),
          |r AS (
          |  SELECT o_orderpriority, o_orderkey, cents,
          |         row_number() OVER (PARTITION BY o_orderpriority
          |                            ORDER BY cents DESC, o_orderkey) AS rank
          |  FROM o)
          |SELECT o_orderpriority, rank::BIGINT AS rank, o_orderkey, cents
          |FROM r WHERE rank <= 5 ORDER BY 1, 2""".stripMargin)),

    // Record linkage: every deterministically-perturbed customer name
    // (substitute/delete/insert one char in the digit zone) finds its best
    // clean match via q-gram blocking (frequency-capped stop-grams — the
    // skew guard) + levenshtein verify on distinct candidates + argmin
    // resolve. No all-pairs product; exchanges keyed on gram / pair.
    QuerySpec("linkage_blocked", (s, dir) => {
      val cust = customer(s, dir)
      val clean = cust.select(col("c_custkey"), col("c_name"))
      val nameL = lower(col("c_name"))
      val pos = lit(10) + pmod(col("c_custkey"), lit(9))
      val m3 = pmod(col("c_custkey"), lit(3))
      val dirtyName = when(m3 === 0,
          concat(nameL.substr(lit(1), pos - 1), lit("x"), nameL.substr(pos + 1, lit(100))))
        .when(m3 === 1,
          concat(nameL.substr(lit(1), pos - 1), nameL.substr(pos + 1, lit(100))))
        .otherwise(
          concat(nameL.substr(lit(1), pos - 1), lit("z"), nameL.substr(pos, lit(100))))
      val dirty = cust.select(col("c_custkey").as("d_id"), dirtyName.as("d_name"))
      Linkage.bestMatch(
          dirty, col("d_id"), col("d_name"),
          clean, col("c_custkey"), col("c_name"))
        .orderBy(col("left_id"))
    },
      note = Some(
        "candidate volume = sum over cold grams of |L_g|*|R_g|, bounded by the maxGramFreq " +
          "stop-gram cap (the skew guard). Audit: exchanges keyed on gram / pair, banded " +
          "3-arg levenshtein only on DISTINCT pairs, no cartesian fallback; the fanout and " +
          "pair-dedup exchanges carry (id, length) only — names re-attach by id post-dedup."),
      oracle = Some(
        """WITH cl AS (SELECT c_custkey AS right_id, lower(c_name) AS rn FROM customer),
          |dn AS (
          |  SELECT c_custkey AS left_id,
          |         10 + (c_custkey % 9) AS pos, c_custkey % 3 AS m3,
          |         lower(c_name) AS n
          |  FROM customer),
          |dirty AS (
          |  SELECT left_id,
          |         CASE m3 WHEN 0 THEN substr(n, 1, pos - 1) || 'x' || substr(n, pos + 1)
          |                 WHEN 1 THEN substr(n, 1, pos - 1) || substr(n, pos + 1)
          |                 ELSE substr(n, 1, pos - 1) || 'z' || substr(n, pos) END AS ln
          |  FROM dn),
          |lt AS (SELECT left_id, ln, substr(ln, greatest(length(ln) - 7, 1), 8) AS tail
          |       FROM dirty),
          |lg AS (SELECT DISTINCT left_id, ln, substr(tail, i, 4) AS g
          |       FROM lt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
          |rd AS (SELECT min(right_id) AS right_id, rn FROM cl GROUP BY rn),
          |rt AS (SELECT right_id, rn, substr(rn, greatest(length(rn) - 7, 1), 8) AS tail
          |       FROM rd),
          |rg AS (SELECT DISTINCT right_id, rn, substr(tail, i, 4) AS g
          |       FROM rt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
          |dfr AS (SELECT g, count(*) AS f FROM rg GROUP BY 1),
          |lwf AS (SELECT lg.left_id, lg.ln, lg.g, d.f,
          |               min(d.f) OVER (PARTITION BY lg.left_id) AS minf,
          |               row_number() OVER (PARTITION BY lg.left_id
          |                                  ORDER BY d.f, lg.g) AS rk
          |        FROM lg JOIN dfr d USING (g)),
          |lk AS (SELECT left_id, ln, g FROM lwf WHERE f <= 200
          |       UNION ALL
          |       SELECT left_id, ln, g FROM (
          |         SELECT left_id, ln, g, count(*) OVER (PARTITION BY g) AS bc
          |         FROM lwf WHERE minf > 200 AND rk <= 2)
          |       WHERE bc <= 128),
          |rwf AS (SELECT rg.right_id, rg.rn, rg.g, d.f,
          |               min(d.f) OVER (PARTITION BY rg.right_id) AS minf,
          |               row_number() OVER (PARTITION BY rg.right_id
          |                                  ORDER BY d.f, rg.g) AS rk
          |        FROM rg JOIN dfr d USING (g)),
          |rk2 AS (SELECT right_id, rn, g FROM rwf WHERE f <= 200
          |       UNION ALL
          |       SELECT right_id, rn, g FROM (
          |         SELECT right_id, rn, g, count(*) OVER (PARTITION BY g) AS bc
          |         FROM rwf WHERE minf > 200 AND rk <= 2)
          |       WHERE bc <= 128),
          |pairs AS (
          |  SELECT DISTINCT left_id, ln, right_id, rn
          |  FROM lk JOIN rk2 USING (g)),
          |ver AS (SELECT left_id, right_id, dist FROM
          |          (SELECT left_id, right_id, levenshtein(ln, rn) AS dist FROM pairs)
          |        WHERE dist <= 2),
          |best AS (SELECT left_id, right_id, dist,
          |                row_number() OVER (PARTITION BY left_id
          |                                   ORDER BY dist, right_id) AS rk
          |         FROM ver)
          |SELECT left_id, right_id, dist::INTEGER AS dist
          |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin)),

    // Record linkage, Jaro-Winkler verifier: same q-gram BLOCK step and
    // perturbed names as linkage_blocked, but verify/resolve by the
    // native graft_jaro_winkler expression (prefix-weighted typo
    // similarity, argmax per dirty record) — bit-compatible with DuckDB's
    // jaro_winkler_similarity, so the whole block→verify→resolve pipe is
    // hash-checked cross-engine. Rounded sim (6dp) drives the argmax
    // ordering on BOTH engines: resolve stays stable even against an
    // implementation differing in the last float bits.
    QuerySpec("linkage_jw", (s, dir) => {
      val cust = customer(s, dir)
      val clean = cust.select(col("c_custkey"), col("c_name"))
      val nameL = lower(col("c_name"))
      val pos = lit(10) + pmod(col("c_custkey"), lit(9))
      val m3 = pmod(col("c_custkey"), lit(3))
      val dirtyName = when(m3 === 0,
          concat(nameL.substr(lit(1), pos - 1), lit("x"), nameL.substr(pos + 1, lit(100))))
        .when(m3 === 1,
          concat(nameL.substr(lit(1), pos - 1), nameL.substr(pos + 1, lit(100))))
        .otherwise(
          concat(nameL.substr(lit(1), pos - 1), lit("z"), nameL.substr(pos, lit(100))))
      val dirty = cust.select(col("c_custkey").as("d_id"), dirtyName.as("d_name"))
      Linkage.bestMatchJw(
          dirty, col("d_id"), col("d_name"),
          clean, col("c_custkey"), col("c_name"), minSim = 0.9)
        .orderBy(col("left_id"))
    },
      note = Some(
        "same BLOCK shape as linkage_blocked (id+length-only fanout, names re-attach " +
          "post-dedup); the minSim-derived length-RATIO prune runs pre-dedup, so " +
          "never-verifiable pairs skip the pair exchange entirely."),
      oracle = Some(
        """WITH cl AS (SELECT c_custkey AS right_id, lower(c_name) AS rn FROM customer),
          |dn AS (
          |  SELECT c_custkey AS left_id,
          |         10 + (c_custkey % 9) AS pos, c_custkey % 3 AS m3,
          |         lower(c_name) AS n
          |  FROM customer),
          |dirty AS (
          |  SELECT left_id,
          |         CASE m3 WHEN 0 THEN substr(n, 1, pos - 1) || 'x' || substr(n, pos + 1)
          |                 WHEN 1 THEN substr(n, 1, pos - 1) || substr(n, pos + 1)
          |                 ELSE substr(n, 1, pos - 1) || 'z' || substr(n, pos) END AS ln
          |  FROM dn),
          |lt AS (SELECT left_id, ln, substr(ln, greatest(length(ln) - 7, 1), 8) AS tail
          |       FROM dirty),
          |lg AS (SELECT DISTINCT left_id, ln, substr(tail, i, 4) AS g
          |       FROM lt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
          |rd AS (SELECT min(right_id) AS right_id, rn FROM cl GROUP BY rn),
          |rt AS (SELECT right_id, rn, substr(rn, greatest(length(rn) - 7, 1), 8) AS tail
          |       FROM rd),
          |rg AS (SELECT DISTINCT right_id, rn, substr(tail, i, 4) AS g
          |       FROM rt, unnest(range(1, greatest(length(tail) - 3, 1) + 1)) u(i)),
          |dfr AS (SELECT g, count(*) AS f FROM rg GROUP BY 1),
          |lwf AS (SELECT lg.left_id, lg.ln, lg.g, d.f,
          |               min(d.f) OVER (PARTITION BY lg.left_id) AS minf,
          |               row_number() OVER (PARTITION BY lg.left_id
          |                                  ORDER BY d.f, lg.g) AS rk
          |        FROM lg JOIN dfr d USING (g)),
          |lk AS (SELECT left_id, ln, g FROM lwf WHERE f <= 200
          |       UNION ALL
          |       SELECT left_id, ln, g FROM (
          |         SELECT left_id, ln, g, count(*) OVER (PARTITION BY g) AS bc
          |         FROM lwf WHERE minf > 200 AND rk <= 2)
          |       WHERE bc <= 128),
          |rwf AS (SELECT rg.right_id, rg.rn, rg.g, d.f,
          |               min(d.f) OVER (PARTITION BY rg.right_id) AS minf,
          |               row_number() OVER (PARTITION BY rg.right_id
          |                                  ORDER BY d.f, rg.g) AS rk
          |        FROM rg JOIN dfr d USING (g)),
          |rk2 AS (SELECT right_id, rn, g FROM rwf WHERE f <= 200
          |       UNION ALL
          |       SELECT right_id, rn, g FROM (
          |         SELECT right_id, rn, g, count(*) OVER (PARTITION BY g) AS bc
          |         FROM rwf WHERE minf > 200 AND rk <= 2)
          |       WHERE bc <= 128),
          |pairs AS (
          |  SELECT DISTINCT left_id, ln, right_id, rn
          |  FROM lk JOIN rk2 USING (g)),
          |ver AS (SELECT left_id, right_id, sim FROM
          |          (SELECT left_id, right_id,
          |                  round(jaro_winkler_similarity(ln, rn), 6) AS sim
          |           FROM pairs)
          |        WHERE sim >= 0.9),
          |best AS (SELECT left_id, right_id, sim,
          |                row_number() OVER (PARTITION BY left_id
          |                                   ORDER BY sim DESC, right_id) AS rk
          |         FROM ver)
          |SELECT left_id, right_id, sim
          |FROM best WHERE rk = 1 ORDER BY left_id""".stripMargin)),

    // PageRank over the supplier↔customer bipartite trade graph (symmetric
    // closure of distinct lineitem⋈orders pairs), 3 iterations, damping 85%.
    // Exact integer fixed-point (rank = BIGINT e12): integer sums are
    // partition-order-free, so the distributed run equals the oracle's
    // unrolled single-threaded recurrence bit-for-bit — float PageRank
    // can't be cross-checked at all. Per iter: one edges⋈ranks shuffle +
    // one dst hash agg; scalar tables broadcast.
    QuerySpec("graph_pagerank", (s, dir) => {
      // symmetric closure via explode (r21): both directions from ONE
      // execution of the lineitem⋈orders subtree (the dupClusters edge
      // trick) — the former union-of-two-projections shape re-ran the
      // broadcast join per branch and paid a pre-union distinct exchange
      // that Graph.Prepared's own dedup makes redundant.
      // LONG-coded vertices (r22): the rank recurrence never reads the
      // id value, so the coded run's per-vertex ranks are the string
      // run's bit-for-bit; ids decode at output (tradeVertexStr).
      val e0 = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(supplierVertex(col("l_suppkey")).as("src"),
          customerVertex(col("o_custkey")).as("dst"))
      val sym = e0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      Graph.pageRank(sym, iters = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("rank_e12"))
        .orderBy(col("vertex"))
    },
      note = Some(
        "per iteration ONE edges-ranks shuffle + one dst hash agg; rank table is |V| rows. " +
          "Deep runs checkpoint every ~10 iters (lineage); scalar mass tables broadcast."),
      oracle = Some(pageRankOracleSql(3))),

    // Multi-source BFS over the same trade graph: exact hop distance from
    // a decile supplier cohort (s_suppkey % 10 = 0 — SF-stable, non-empty
    // at every scale factor), capped at 3 hops — the blast-radius /
    // influence-frontier query (who does a recall at these suppliers
    // touch, and how directly?). Frontier iteration: each round joins only
    // the newly-reached frontier against the persisted edge table, never
    // the full reached set; integer distances make the distributed search
    // equal DuckDB's recursive-CTE unrolling bit-for-bit.
    QuerySpec("graph_reach", (s, dir) => {
      // symmetric closure via explode — single join execution, pre-union
      // distinct dropped (shortestHops dedups); see graph_pagerank.
      // LONG-coded vertices (r22): hop distances are id-value-free, so
      // the coded BFS labels every vertex identically; decode at output.
      val e0 = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(supplierVertex(col("l_suppkey")).as("src"),
          customerVertex(col("o_custkey")).as("dst"))
      val sym = e0.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = supplier(s, dir)
        .filter(pmod(col("s_suppkey"), lit(10)) === 0)
        .select(supplierVertex(col("s_suppkey")).as("vertex"))
      Graph.shortestHops(sym, seeds, maxHops = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("dist"))
        .orderBy(col("vertex"))
    },
      note = Some(
        "per hop one frontier-edges shuffle + dst dedup; the emptiness probe rides the " +
          "checkpoint materialization (no extra job). Frontier shrinks monotonically; " +
          "edges partitioned once."),
      oracle = Some(
        """WITH RECURSIVE e0 AS (
          |  SELECT DISTINCT 's' || l.l_suppkey::VARCHAR AS src,
          |                  'c' || o.o_custkey::VARCHAR AS dst
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          |ed AS (SELECT src, dst FROM e0
          |       UNION SELECT dst AS src, src AS dst FROM e0),
          |seeds AS (
          |  SELECT DISTINCT 's' || s_suppkey::VARCHAR AS vertex
          |  FROM supplier WHERE s_suppkey % 10 = 0),
          |reach(vertex, dist) AS (
          |  SELECT vertex, 0 FROM seeds
          |  UNION
          |  SELECT ed.dst, r.dist + 1
          |  FROM reach r JOIN ed ON r.vertex = ed.src
          |  WHERE r.dist < 3)
          |SELECT vertex, min(dist)::BIGINT AS dist
          |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weighted bounded-hop SSSP over the trade graph: cheapest route (in
    // lineitem price cents, min per supplier↔customer pair) from the
    // decile supplier cohort within 3 edges — "at what cost", where
    // graph_reach answers "how directly". Frontier-restricted Bellman-Ford
    // (round r relaxes only vertices improved in r−1); after maxHops
    // rounds the labels are exactly min-cost-over-≤3-edge-paths, a total
    // contract the unrolled-CTE oracle reproduces bit-for-bit in integers.
    QuerySpec("graph_sssp", (s, dir) => {
      // LONG-coded vertices (r22): min-cost labels are id-value-free —
      // weights and the relaxation order are untouched; decode at output.
      val e0 = lineitem(s, dir)
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(supplierVertex(col("l_suppkey")).as("src"),
          customerVertex(col("o_custkey")).as("dst"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("w"))
      // symmetric closure via explode — single join execution (see
      // graph_pagerank); ssspBounded's min-agg collapses parallel edges
      val sym = e0.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
      val seeds = supplier(s, dir)
        .filter(pmod(col("s_suppkey"), lit(10)) === 0)
        .select(supplierVertex(col("s_suppkey")).as("vertex"))
      Graph.ssspBounded(sym, seeds, maxHops = 3)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("dist"))
        .orderBy(col("vertex"))
    },
      note = Some(
        "frontier-restricted Bellman-Ford: edges hash-partitioned on src ONCE and persisted; " +
          "per round one frontier-edges shuffle + per-dst min agg + full-outer label merge, " +
          "lazy localCheckpoints with the improvement probe's count() as the ONLY action. " +
          "Cost = fixed per-round overhead x rounds, not data; the label table is |V| rows."),
      oracle = Some(ssspOracleSql(3))),

    // k-core (k=4) of the high-quantity trade graph (l_quantity >= 45
    // sparsifies enough that peeling bites): the dense-cohesion extractor.
    // Contract is "the graph after 4 peel rounds" — identical to the
    // oracle's unrolled rounds whether or not the fixpoint arrived (the
    // spec pins multi-round convergence on handmade graphs; this data
    // converges in 1–2).
    QuerySpec("graph_kcore", (s, dir) => {
      // LONG-coded vertices (r22): kCore canonicalizes edges with least/
      // greatest purely to DEDUP them — the undirected edge SET, hence
      // every degree and every peel round, is identical under any
      // injective recoding; decode at output.
      val e = lineitem(s, dir).filter(col("l_quantity") >= 45)
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(customerVertex(col("o_custkey")).as("src"),
          supplierVertex(col("l_suppkey")).as("dst"))
      Graph.kCore(e, k = 4, maxRounds = 4)
        .select(tradeVertexStr(col("vertex")).as("vertex"), col("degree"))
        .orderBy(col("vertex"))
    },
      oracle = Some(kCoreOracleSql(4, 4))),

    // Connected components (min-label fixpoint / size-gated union-find —
    // one engine with dupClusters) over a deterministic chain+bridge graph
    // on the customer keys: decade chains (c—c+1 within each run of 10)
    // bridged at c%100=55, so components have known bounded diameter and
    // the DuckDB transitive-closure oracle stays linear. Component id =
    // min vertex, bit-exact cross-engine.
    QuerySpec("graph_components", (s, dir) => {
      val v = customer(s, dir).select(col("c_custkey").as("id"))
      val e0 = v.filter(pmod(col("id"), lit(10)) =!= 0)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .unionByName(v.filter(pmod(col("id"), lit(100)) === 55)
          .select(col("id").as("src"), (col("id") + 10).as("dst")))
      // keep only edges whose endpoint exists (the last key's +1 doesn't)
      val edges = e0.join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
      Graph.connectedComponents(edges)
        .orderBy(col("vertex"))
    },
      oracle = Some(
        """WITH RECURSIVE v AS (SELECT c_custkey AS id FROM customer),
          |e0 AS (
          |  SELECT id AS src, id + 1 AS dst FROM v WHERE id % 10 <> 0
          |  UNION ALL
          |  SELECT id AS src, id + 10 AS dst FROM v WHERE id % 100 = 55),
          |e1 AS (SELECT src, dst FROM e0 JOIN v ON e0.dst = v.id),
          |edges AS (
          |  SELECT src AS u, dst AS w FROM e1
          |  UNION
          |  SELECT dst AS u, src AS w FROM e1),
          |reach AS (
          |  SELECT u, w FROM edges
          |  UNION
          |  SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u
          |  WHERE e.w <> r.u)
          |SELECT u AS vertex, LEAST(u, MIN(w)) AS component
          |FROM reach GROUP BY u ORDER BY vertex""".stripMargin)),

    // Winsorized robust stats per event type: nearest-rank [p5, p95]
    // boundaries from the histogram-compacted integer multiset (exact —
    // interpolated percentiles of 2dp money are the known cross-engine
    // trap), boundaries broadcast back for the clamp. No global sort.
    QuerySpec("q_winsorize", (s, dir) => {
      Analytics.winsorizedStats(events(s, dir), Seq(col("event_type")),
          col("value"), pLo = 5, pHi = 95)
        .select(col("event_type"), col("n_rows"), col("lo"), col("hi"),
          col("n_clipped_lo"), col("n_clipped_hi"), col("sum_u"))
        .orderBy(col("event_type"))
    },
      twin = Some("q_winsorize_scale"),
      note = Some(
        "nearest-rank boundaries from the (group, value_u) COMPACTED multiset — no global " +
          "sort; still materializes distinct values per group. Scale path on near-unique " +
          "domains: q_winsorize_scale (percentile_approx GK boundaries, no multiset)."),
      oracle = Some(
        """WITH v AS (
          |  SELECT event_type, CAST(round(value * 10000, 0) AS BIGINT) AS vu
          |  FROM events),
          |m AS (SELECT event_type, vu, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
          |cm AS (
          |  SELECT event_type, vu, c,
          |         sum(c) OVER (PARTITION BY event_type ORDER BY vu
          |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum,
          |         sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
          |  FROM m),
          |b AS (
          |  SELECT event_type, max(n)::BIGINT AS n_rows,
          |         min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN vu END)::BIGINT AS lo_u,
          |         min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN vu END)::BIGINT AS hi_u
          |  FROM cm GROUP BY 1)
          |SELECT v.event_type, max(b.n_rows)::BIGINT AS n_rows,
          |       max(b.lo_u) / 10000.0 AS lo, max(b.hi_u) / 10000.0 AS hi,
          |       sum(CASE WHEN vu < lo_u THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
          |       sum(CASE WHEN vu > hi_u THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
          |       sum(least(greatest(vu, lo_u), hi_u))::BIGINT AS sum_u
          |FROM v JOIN b USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Deterministic mode: most frequent event type per user with a total
    // tie-break (count desc, value asc) — the engines' native mode() is
    // arbitrary on ties, useless for a reproducible pipeline. Count agg +
    // per-key rank; shards by user.
    QuerySpec("q_mode_per_group", (s, dir) => {
      Analytics.deterministicMode(events(s, dir),
          Seq(col("user_id")), col("event_type"))
        .select(col("user_id"), col("mode_val"), col("mode_n"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """WITH c AS (
          |  SELECT user_id, event_type AS mode_val, count(*)::BIGINT AS mode_n
          |  FROM events GROUP BY 1, 2),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |           ORDER BY mode_n DESC, mode_val) AS rk FROM c)
          |SELECT user_id, mode_val, mode_n FROM r WHERE rk = 1
          |ORDER BY user_id""".stripMargin)),

    // One-pass column profiler over the corpus table: per column, rows /
    // nulls / exact distincts / numeric min-max, all from a single
    // aggregate over one scan (exact countDistinct = the Expand-planned
    // oracle anchor; q_profile_scale is the HLL one-pass shape).
    QuerySpec("q_profile", (s, dir) => {
      Profile.profile(documents(s, dir),
          Seq("doc_id", "n_chars", "lang", "source", "text"), exact = true)
        .orderBy(col("col_name"))
    },
      twin = Some("q_profile_scale"),
      note = Some(
        "ORACLE SHAPE: exact multi-countDistinct plans via Expand (scan rows replicated " +
          "once per profiled column before the partial agg). " +
          "Scale path: q_profile_scale (per-column HLL sketches, one pass, no Expand)."),
      oracle = Some(
        """SELECT 'doc_id' AS col_name, count(*)::BIGINT AS n_rows,
          |       (count(*) - count(doc_id))::BIGINT AS n_nulls,
          |       count(DISTINCT doc_id)::BIGINT AS n_distinct,
          |       min(doc_id)::DOUBLE AS min_num, max(doc_id)::DOUBLE AS max_num
          |FROM documents
          |UNION ALL
          |SELECT 'n_chars', count(*)::BIGINT, (count(*) - count(n_chars))::BIGINT,
          |       count(DISTINCT n_chars)::BIGINT, min(n_chars)::DOUBLE, max(n_chars)::DOUBLE
          |FROM documents
          |UNION ALL
          |SELECT 'lang', count(*)::BIGINT, (count(*) - count(lang))::BIGINT,
          |       count(DISTINCT lang)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
          |FROM documents
          |UNION ALL
          |SELECT 'source', count(*)::BIGINT, (count(*) - count(source))::BIGINT,
          |       count(DISTINCT source)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
          |FROM documents
          |UNION ALL
          |SELECT 'text', count(*)::BIGINT, (count(*) - count(text))::BIGINT,
          |       count(DISTINCT text)::BIGINT, NULL::DOUBLE, NULL::DOUBLE
          |FROM documents
          |ORDER BY col_name""".stripMargin)),

    // The 100 TB profiler shape: approx_count_distinct (HLL++ sketch per
    // column, partial+final agg, NO Expand row multiplication). No SQL
    // oracle: sketch-estimate-dependent; ±5% vs exact and plan shape
    // asserted in ScalaTest.
    QuerySpec("q_profile_scale", (s, dir) => {
      Profile.profile(documents(s, dir),
          Seq("doc_id", "n_chars", "lang", "source", "text"), exact = false)
        .orderBy(col("col_name"))
    },
      twin = Some("q_profile")),

    // The scale path for the equi-depth histogram: bucket BOUNDARIES from
    // one approx_percentile pass (mergeable sketch, partial+final agg),
    // broadcast as a single row, and every row range-bucketed against
    // them map-side — no global sort anywhere; the only shuffle is the
    // 8-group count agg (no SQL oracle: sketch-boundary-dependent;
    // balance/partition invariants in ScalaTest).
    QuerySpec("q_histogram_equidepth_scale", (s, dir) => {
      val li = lineitem(s, dir).select(col("l_extendedprice").as("x"))
      val bounds = li.agg(percentile_approx(col("x"),
        typedlit((1 to 7).map(_ / 8.0)), lit(10000)).as("bs"))
      li.crossJoin(broadcast(bounds))
        .withColumn("bucket", (size(filter(col("bs"), b => col("x") >= b)) + 1).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          round(min(col("x")), 2).as("lo"),
          round(max(col("x")), 2).as("hi"))
        .orderBy(col("bucket"))
    },
      twin = Some("q_histogram_equidepth")),

    // Robust per-group outlier census: median + MAD (median absolute
    // deviation), flag rows beyond 3 scaled MADs. Exact integer
    // arithmetic end to end, same posture as events_gapfill: prices
    // quantize to BIGINT cents, the group median of an even count is a
    // half-cent integer (percentile·2), the deviation median a
    // quarter-cent integer — the emitted doubles come from dividing
    // identical integers, so no decimal rounding ever runs. Rounding the
    // medians instead made sf-dependent x.xx5 ties that Spark and DuckDB
    // break in opposite directions.
    //
    // Plan shape: the corpus collapses ONCE to a (flag, value, count)
    // histogram — a hash agg with map-side combine — and every later pass
    // (median, MAD, census) runs on that compact multiset via
    // `percentile(x, p, frequency)`, which expands counts exactly like
    // raw rows. The fact table is scanned once and its exchange reused
    // (the three histogram branches canonicalize identically); the old
    // formulation pushed all N rows through three grouped exact-percentile
    // sorts. At 100 TB the histogram is |distinct prices|·|flags| rows —
    // the 3-sigma census over raw values degenerates to approx sketches
    // only when even THAT is too wide (q_outliers_mad_scale).
    // NOTE (r22 measured-and-rejected): the VERDICT-proposed window-cumsum
    // replacement for the two `percentile(x, 0.5, cnt)` aggs — bit-exact
    // via med·2 = min(v | 2·cum > N−1) + min(v | 2·cum > N) — was
    // implemented and benched at 3.32–3.74 s vs 2.84 s for this form
    // (two idle sessions each). Root cause: at sf0.1 the histogram barely
    // compacts (594,330 of 600,000 rows survive — prices are near-unique),
    // so the per-flag window pays a 3-task exchange + full sort of the
    // corpus twice, while percentile's 32-way partial maps only serialize
    // at the per-flag merge. The percentile agg stays; at a scale where
    // the value domain saturates (hist ≪ corpus) the window form becomes
    // attractive again — re-decide with a cluster profile.
    QuerySpec("q_outliers_mad", (s, dir) => {
      val hist = lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("xc"))
        .groupBy(col("flag"), col("xc"))
        .agg(count(lit(1)).as("cnt"))
      val med = hist.groupBy(col("flag"))
        .agg(round(expr("percentile(xc, 0.5d, cnt)") * 2, 0).cast("long").as("med_hc"))
      val dev = hist.join(broadcast(med), "flag")
        .withColumn("d_hc", abs(col("xc") * 2 - col("med_hc")))
      val mad = dev.groupBy(col("flag"))
        .agg(round(expr("percentile(d_hc, 0.5d, cnt)") * 2, 0).cast("long").as("mad_qc"))
      dev.join(broadcast(mad), "flag")
        .groupBy(col("flag"))
        .agg(sum(col("cnt")).as("n_rows"),
          (first(col("med_hc")).cast("double") / 200.0).as("med"),
          (first(col("mad_qc")).cast("double") / 400.0).as("mad"),
          sum(when(col("d_hc").cast("double") > col("mad_qc") * 3 * 1.4826 / 2, col("cnt"))
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("flag"))
    },
      twin = Some("q_outliers_mad_scale"),
      note = Some(
        "exact global median/MAD = full-column percentile sort aggs. " +
          "Scale path: q_outliers_mad_scale (percentile_approx med/MAD, partial+final hash agg)."),
      oracle = Some(
        """WITH li AS (SELECT l_returnflag AS flag,
          |                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS xc
          |            FROM lineitem),
          |med AS (SELECT flag,
          |               CAST(round(quantile_cont(xc, 0.5) * 2, 0) AS BIGINT) AS med_hc
          |        FROM li GROUP BY flag),
          |mad AS (SELECT li.flag,
          |               CAST(round(quantile_cont(abs(2 * xc - med_hc), 0.5) * 2, 0)
          |                    AS BIGINT) AS mad_qc,
          |               any_value(med_hc) AS med_hc
          |        FROM li JOIN med USING (flag) GROUP BY li.flag)
          |SELECT li.flag, count(*)::BIGINT AS n_rows,
          |       any_value(mad.med_hc) / 200.0 AS med,
          |       any_value(mad.mad_qc) / 400.0 AS mad,
          |       sum(CASE WHEN abs(2 * xc - mad.med_hc) > mad.mad_qc * 3 * 1.4826 / 2
          |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
          |FROM li JOIN mad USING (flag)
          |GROUP BY li.flag
          |ORDER BY li.flag""".stripMargin)),

    // Scale companion to q_outliers_mad: both median passes run on
    // percentile_approx (t-digest — one partial+final hash agg, mergeable
    // across 1000 executors, no per-group sort), mirroring the
    // q_percentiles → q_approx_percentiles pattern. Same census columns.
    // No oracle (sketch-dependent); the spec pins it against the exact
    // census within tolerance.
    QuerySpec("q_outliers_mad_scale", (s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"))
      val med = li.groupBy(col("flag"))
        .agg(percentile_approx(col("x"), lit(0.5), lit(10000)).as("med"))
      val mad = li.join(broadcast(med), "flag")
        .withColumn("d", abs(col("x") - col("med")))
        .groupBy(col("flag"))
        .agg(percentile_approx(col("d"), lit(0.5), lit(10000)).as("mad"),
          first(col("med")).as("med"))
      li.join(broadcast(mad), "flag")
        .withColumn("d", abs(col("x") - col("med")))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("med")), 2).as("med"),
          round(first(col("mad")), 2).as("mad"),
          sum(when(col("d") > col("mad") * 3 * 1.4826, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("flag"))
    },
      twin = Some("q_outliers_mad")),

    // Skew-safe salted join: event_type has only 5 values — the canonical
    // hot-key shape. Salting spreads each key over 16 sub-keys; the result
    // is oracle-identical to the plain join (the whole point).
    QuerySpec("q_skew_join_salted", (s, dir) => {
      import s.implicits._
      val weights = Seq(
        ("click", 1.0), ("view", 0.5), ("purchase", 3.0),
        ("error", 2.0), ("signup", 1.5))
        .toDF("event_type", "weight")
      Relational.saltedEquiJoin(
          events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          weights, "event_type", col("event_id"), nSalts = 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") * col("weight")), 2).as("weighted_value"))
        .orderBy(col("event_type"))
    },
      // the salted join must be result-identical to the PLAIN join
      oracle = Some(
        """SELECT e.event_type, count(*) AS n_events,
          |       round(sum(e.value * w.weight), 2) AS weighted_value
          |FROM events e
          |JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 3.0),
          |             ('error', 2.0), ('signup', 1.5)) AS w(event_type, weight)
          |  ON e.event_type = w.event_type
          |GROUP BY e.event_type
          |ORDER BY e.event_type""".stripMargin)),

    // Latest-wins MERGE: every 10th order arrives again as a CDC update
    // (price in cents × 11, version 1); winner per key via ONE hash agg
    // carrying the full payload — no ranking window, no join back. Money
    // as integer cents end to end (never round a ×1.1 float cross-engine).
    QuerySpec("q_merge_upsert", (s, dir) => {
      val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"))
      val base = o.withColumn("ver", lit(0L))
      val upd = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("price_c", col("price_c") * 11)
        .withColumn("ver", lit(1L))
      Relational.upsertLatest(base, upd, Seq("o_orderkey"), "ver")
        .orderBy(col("o_orderkey"))
    },
      oracle = Some(
        """WITH b AS (SELECT o_orderkey, o_custkey,
          |                  round(o_totalprice * 100)::BIGINT AS price_c, 0::BIGINT AS ver
          |           FROM orders),
          |u AS (SELECT o_orderkey, o_custkey,
          |             round(o_totalprice * 100)::BIGINT * 11 AS price_c, 1::BIGINT AS ver
          |      FROM orders WHERE o_orderkey % 10 = 0),
          |a AS (SELECT * FROM b UNION ALL SELECT * FROM u)
          |SELECT o_orderkey, o_custkey, price_c, ver FROM a
          |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY ver DESC) = 1
          |ORDER BY o_orderkey""".stripMargin)),

    // TF-IDF top-3 terms per document: tf and df are hash aggs, the corpus
    // size joins in as a broadcast 1-row agg (never a driver-side count),
    // ranking is a per-doc window. Rank on the ROUNDED score + token
    // tie-break so ordering is identical across engines.
    QuerySpec("text_tfidf", (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.wordTokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // df = rows per token IN tf, as a window — one shuffle of the compact
      // (doc, token, tf) agg by token, no second corpus explode and no join
      // back. N comes from the base table without exploding (docs with at
      // least one token, matching the toks-derived count).
      val n = documents(s, dir).agg(
        countDistinct(when(TextAnalysis.tokenCount(col("text")) > 0,
          col("doc_id"))).as("n_total"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_total").cast("double") / col("df")), 4))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
          |  FROM documents
          |),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
          |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
          |n AS (SELECT count(DISTINCT doc_id) AS n_total FROM toks)
          |SELECT doc_id, token, tfidf FROM (
          |  SELECT tf.doc_id, tf.token,
          |         round(tf.tf * ln(n.n_total::DOUBLE / df.df), 4) AS tfidf,
          |         row_number() OVER (
          |           PARTITION BY tf.doc_id
          |           ORDER BY round(tf.tf * ln(n.n_total::DOUBLE / df.df), 4) DESC, tf.token) AS rk
          |  FROM tf JOIN df USING (token) CROSS JOIN n)
          |WHERE rk <= 3
          |ORDER BY doc_id, tfidf DESC, token""".stripMargin)),

    // Per-document novelty: fraction of a doc's distinct 3-token shingles
    // with corpus document-frequency 1 — the complement signal of the
    // MinHash family (shared shingles instead of shared signatures), used
    // to weight selection toward original prose. Integer ppm end to end;
    // the gram-keyed join is the exact-substring-dedup shape, never
    // all-pairs.
    QuerySpec("text_novelty", (s, dir) => {
      TextAnalysis.noveltyCensus(documents(s, dir), "doc_id", "text",
          shingleSize = 3)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
          |                                for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
          |        FROM documents)),
          |g AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
          |d AS (SELECT shingle, count(*)::BIGINT AS df FROM g GROUP BY 1)
          |SELECT g.doc_id, count(*)::BIGINT AS n_shingles,
          |       sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
          |       ((sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 2000000 + count(*))
          |        // (count(*) * 2))::BIGINT AS novelty_ppm
          |FROM g JOIN d USING (shingle)
          |GROUP BY g.doc_id
          |ORDER BY g.doc_id""".stripMargin)),

    // Compression-ratio quality screen (zlib-family): DEFLATE size of each
    // document at fixed level over its raw UTF-8 bytes, as basis points.
    // Highly compressible = boilerplate/template spam; incompressible =
    // binary junk. Native codegen'd expression (functions/DeflateSize) —
    // pure per-row CPU, no shuffle. No SQL oracle (DuckDB has no deflate);
    // invariant + determinism specs in OperatorsSuite.
    QuerySpec("text_compression_ratio", (s, dir) => {
      val raw = octet_length(col("text"))
      documents(s, dir)
        .withColumn("raw_bytes", raw.cast("long"))
        .withColumn("deflate_bytes",
          graft.functions.DeflateSize.deflateSize(col("text")).cast("long"))
        .filter(col("raw_bytes") > 0)
        .withColumn("ratio_bp",
          (col("deflate_bytes") * 10000L / col("raw_bytes")).cast("long"))
        .select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"), col("ratio_bp"))
        .orderBy(col("doc_id"))
    }),

    // Real subword token budgeting: train a BPE merge table on the corpus'
    // word-frequency head (one explode + hash agg + bounded-heap top-k →
    // driver merge loop — the sampled-codebook pattern), then count tokens
    // in one codegen'd pass with the merges riding the expression. Census
    // per source: whitespace counts vs subword counts. Oracle-tier via the
    // generated-SQL pattern (langid/EWMA): the TRAINING loop isn't SQL-
    // expressible, but the trained merge table is a bounded deterministic
    // artifact — the query captures it and oracleSql (evaluated AFTER the
    // queries run — Verify's dump order) emits DuckDB SQL that replays
    // greedy encoding from those literals. Training itself stays pinned by
    // the AnalyticsSuite textbook/parity specs.
    QuerySpec("text_bpe_tokens", (s, dir) => {
      val docs = documents(s, dir)
      // the synthetic corpus has a ~31-word vocabulary; 40 merges leaves
      // rare words split into subwords (200 would reconstruct every word
      // whole and the census would just equal the whitespace counts)
      val merges = graft.operators.Bpe.train(docs, col("text"),
        numMerges = 40, maxWords = 20000)
      bpeTrainedMerges = merges
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
          graft.operators.Bpe.tokenCount(col("text"), merges).cast("long").as("bpe"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .orderBy(col("source"))
    },
      oracle = Some(bpeOracleSql(bpeTrainedMerges))),

    // Unigram-LM (SentencePiece) tokenizer census — the other half of the
    // subword family next to text_bpe_tokens: EM-fitted piece table over
    // the word-frequency head, Viterbi encode on executors. vocabSize 64
    // over the ~31-word synthetic vocabulary keeps rare words split into
    // pieces. Oracle: the trained table is the embedded model artifact and
    // the Viterbi DP is INDEPENDENTLY re-run in SQL (unigramOracleSql).
    QuerySpec("text_unigram_tokens", (s, dir) => {
      val docs = documents(s, dir)
      val pieces = graft.operators.Unigram.train(docs, col("text"),
        vocabSize = 64, maxWords = 20000)
      unigramTrainedPieces = pieces
      unigramMaxWordLen = docs
        .select(explode(graft.functions.Tokenize.wordTokens(col("text"))).as("w"))
        .agg(coalesce(max(length(col("w"))), lit(1)).as("m"))
        .collect()(0).getInt(0).max(1)
      docs.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
          graft.operators.Unigram.tokenCount(col("text"), pieces).cast("long").as("uni"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("uni")).as("uni_tokens"))
        .orderBy(col("source"))
    },
      oracle = Some(
        unigramOracleSql(unigramTrainedPieces, unigramMaxWordLen))),

    // TPC-H Q5 shape: 6-way join across the full star schema. Fact-fact
    // joins (orders⋈lineitem, ⋈customer) shuffle on their keys; nation/
    // region/supplier are dims — Catalyst/AQE picks broadcast at any scale
    // where they fit, shuffle otherwise.
    QuerySpec("q_multi_join", (s, dir) => {
      val o = orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },
      oracle = Some(
        """SELECT n_name,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |       count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin))
  )
}
