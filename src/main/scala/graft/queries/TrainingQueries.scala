package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{documents, embeddings, events}
import graft.operators.{Dedup, Pipeline, Relational, TextAnalysis}

/** Training-pipeline analytics: sequence packing, splits, sampling,
  * selection, decontamination and n-gram LM fluency.
  */
object TrainingQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Time-range window frame (RANGE BETWEEN an interval): per-user rolling
    // 1-hour sum/count over events — the event-time analytic that ROWS
    // frames cannot express. Epoch-microsecond order keys keep the frame
    // bounds engine-exact; one shuffle on user_id, per-partition sort.
    QuerySpec("q_window_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("rolling_sum", round(sum(col("value")).over(w), 2))
        .withColumn("rolling_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("rolling_sum"), col("rolling_n"))
        .orderBy(col("event_id"))
    },
      oracle = Some(
        """SELECT event_id, user_id,
          |       round(sum(value) OVER w, 2) AS rolling_sum,
          |       count(*) OVER w AS rolling_n
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin)),

    // Sequence packing: assign docs to fixed token-budget bins per language
    // (bin = tokens-before-this-doc / budget, doc_id order) — the
    // pretraining "pack documents into ~1k-token sequences" step as one
    // per-language window cumsum; no driver loop, scales with languages ×
    // docs. A doc straddling a boundary belongs to the bin where it starts.
    QuerySpec("pack_sequences", (s, dir) => {
      Pipeline.packSequences(documents(s, dir),
          strata = col("lang"), order = col("doc_id"),
          tokens = size(split(col("text"), " ")), budget = 1000L)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("seq_id"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """SELECT doc_id, lang, n_tok, floor((cum - n_tok) / 1000)::BIGINT AS seq_id
          |FROM (SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tok,
          |             sum(len(string_split(text, ' '))) OVER (PARTITION BY lang ORDER BY doc_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |      FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    // Repetition-based quality signals (the Gopher-style filters: duplicate-
    // token fraction and top-bigram mass — Rae et al. 2021, §A1.1, public
    // heuristic): per-row array ops + one (doc, bigram) hash agg; no
    // cross-document work, embarrassingly parallel at any scale.
    QuerySpec("text_repetition", (s, dir) => {
      TextAnalysis.repetitionScores(documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |base AS (
          |  SELECT doc_id, len(t)::BIGINT AS n_tok,
          |         (20000 * (len(t) - len(list_distinct(t))) + len(t))
          |           // (2 * len(t)) / 10000.0 AS dup_frac,
          |         [t[x] || ' ' || t[x+1] for x in range(1, len(t))] AS bgs
          |  FROM toks),
          |counts AS (
          |  SELECT doc_id, n_tok, dup_frac, bg, count(*) AS bg_n
          |  FROM (SELECT doc_id, n_tok, dup_frac, unnest(bgs) AS bg FROM base)
          |  GROUP BY doc_id, n_tok, dup_frac, bg)
          |SELECT doc_id, dup_frac,
          |       (20000 * (max(bg_n) * 2) + n_tok) // (2 * n_tok) / 10000.0
          |         AS top_bigram_frac
          |FROM counts
          |GROUP BY doc_id, dup_frac, n_tok
          |ORDER BY doc_id""".stripMargin)),

    // Incremental exact dedup: a new ingest batch (doc_id >= 400) anti-
    // joined against the kept corpus's fingerprint set (doc_id < 400) —
    // the daily-ingest dedup shape; the corpus side reduces to distinct
    // fingerprints before the join (see Dedup.incrementalExact).
    QuerySpec("dedup_incremental", (s, dir) => {
      val docs = documents(s, dir)
      Dedup.incrementalExact(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          TextAnalysis.md5Fingerprint(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """SELECT d.doc_id, d.lang
          |FROM documents d
          |WHERE d.doc_id >= 400
          |  AND NOT EXISTS (SELECT 1 FROM documents c
          |                  WHERE c.doc_id < 400
          |                    AND md5(lower(trim(c.text))) = md5(lower(trim(d.text))))
          |ORDER BY d.doc_id""".stripMargin)),

    // Incremental dedup with the Bloom prefilter — identical rows to
    // dedup_incremental (same oracle SQL): the bloom only routes rows
    // map-side, the exact anti join decides. At corpus scale the routed
    // batch shrinks the join probe side to ~fpp·|batch| + |dups|.
    QuerySpec("dedup_incremental_bloom", (s, dir) => {
      val docs = documents(s, dir)
      Dedup.incrementalBloom(
          docs.filter(col("doc_id") >= 400),
          docs.filter(col("doc_id") < 400),
          TextAnalysis.md5Fingerprint(col("text")))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // identical to dedup_incremental by design: the bloom prefilter only
      // routes rows, the exact anti join decides
      oracle = Some(
        """SELECT d.doc_id, d.lang
          |FROM documents d
          |WHERE d.doc_id >= 400
          |  AND NOT EXISTS (SELECT 1 FROM documents c
          |                  WHERE c.doc_id < 400
          |                    AND md5(lower(trim(c.text))) = md5(lower(trim(d.text))))
          |ORDER BY d.doc_id""".stripMargin)),

    // Incremental NEAR-dup gate (exact): the new batch (doc_id >= 400) is
    // kept only where no corpus (< 400) document reaches Jaccard 0.5 in
    // its length block — the daily-ingest gate for lightly-EDITED re-posts
    // that dedup_incremental's exact fingerprints sail past.
    QuerySpec("dedup_incremental_jaccard", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.incrementalJaccardNew(
          d.filter(col("doc_id") >= 400), d.filter(col("doc_id") < 400),
          "doc_id", "text", Seq("len_bucket"), shingleSize = 3, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, n_chars // 100 AS len_bucket,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, n_chars, string_split_regex(text, ' +') AS toks
          |        FROM documents))
          |SELECT d.doc_id, d.lang
          |FROM documents d
          |WHERE d.doc_id >= 400
          |  AND NOT EXISTS (
          |    SELECT 1
          |    FROM s b JOIN s c ON b.len_bucket = c.len_bucket
          |    WHERE b.doc_id = d.doc_id AND c.doc_id < 400
          |      AND len(list_intersect(b.sh, c.sh))::DOUBLE
          |            / len(list_distinct(b.sh || c.sh)) >= 0.5)
          |ORDER BY d.doc_id""".stripMargin)),

    // The LSH scale path for the same gate — banding replaces blocking, so
    // the corpus side joins on (band, bucket) only. md5 hash family makes
    // the banding DuckDB-recomputable → full oracle; no-false-flags +
    // recall vs the unblocked exact gate stay asserted in ScalaTest.
    QuerySpec("dedup_incremental_minhash", (s, dir) => {
      val d = documents(s, dir)
      Dedup.incrementalMinhashNew(
          d.filter(col("doc_id") >= 400), d.filter(col("doc_id") < 400),
          "doc_id", "text", numHashes = 32, bands = 16, threshold = 0.5,
          md5Family = true)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // md5-family incremental gate: batch (doc_id >= 400) survives unless an
      // LSH band bucket it shares with the corpus (< 400) verifies at J >= 0.5
      oracle = Some(
        """WITH sf AS (
          |  SELECT doc_id, sh FROM (
          |    SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
          |                                  for i in range(1, len(toks) - 1)]) AS sh
          |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
          |          FROM documents))
          |  WHERE len(sh) > 0
          |),
          |mh AS (
          |  SELECT doc_id, i, min(a + i*b) AS h
          |  FROM (SELECT doc_id,
          |               ('0x' || substr(m, 1, 15))::BIGINT AS a,
          |               ('0x' || substr(m, 17, 14))::BIGINT AS b
          |        FROM (SELECT doc_id, md5(unnest(sh)) AS m FROM sf)),
          |       range(0, 32) t(i)
          |  GROUP BY doc_id, i
          |),
          |sg AS (SELECT doc_id, list(h ORDER BY i) AS sig FROM mh GROUP BY doc_id),
          |bk AS (
          |  SELECT doc_id, b, sig[2*b + 1]::VARCHAR || '|' || sig[2*b + 2]::VARCHAR AS bucket
          |  FROM sg, range(0, 16) t(b)
          |),
          |cand AS (
          |  SELECT DISTINCT l.doc_id AS batch_id, r.doc_id AS corpus_id
          |  FROM bk l JOIN bk r ON l.b = r.b AND l.bucket = r.bucket
          |  WHERE l.doc_id >= 400 AND r.doc_id < 400
          |),
          |flagged AS (
          |  SELECT DISTINCT batch_id
          |  FROM cand
          |  JOIN sf a ON a.doc_id = cand.batch_id
          |  JOIN sf b ON b.doc_id = cand.corpus_id
          |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          |          / len(list_distinct(a.sh || b.sh)) >= 0.5
          |)
          |SELECT doc_id, lang FROM documents
          |WHERE doc_id >= 400
          |  AND doc_id NOT IN (SELECT batch_id FROM flagged)
          |ORDER BY doc_id""".stripMargin)),

    // Deterministic train/valid/test split (80/10/10 by md5 bucket of the
    // doc id): the same doc lands in the same split on every engine, run,
    // and cluster size — no RNG at execution time (md5 is the cross-engine
    // hash, as in sample_consistent). Census per (lang, split).
    QuerySpec("sample_split", (s, dir) => {
      Pipeline.deterministicSplit(documents(s, dir), col("doc_id"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    },
      oracle = Some(
        """SELECT lang, split, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
          |FROM (SELECT lang, n_chars,
          |        CASE WHEN b < 80 THEN 'train'
          |             WHEN b < 90 THEN 'valid'
          |             ELSE 'test' END AS split
          |      FROM (SELECT lang, n_chars,
          |              ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
          |            FROM documents))
          |GROUP BY lang, split
          |ORDER BY lang, split""".stripMargin)),

    // Incremental leakage-safe split — the daily-ingest form: a new doc
    // (>= 400) near-duplicating an already-split corpus doc (< 400, md5
    // splits as the given artifact) INHERITS that doc's split (smallest
    // matching corpus id); unmatched new docs get the ordinary md5 split.
    // The per-doc assignment is hash-checked.
    QuerySpec("sample_split_incremental", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val corpus = Pipeline.deterministicSplit(
        d.filter(col("doc_id") < 400), col("doc_id"))
      Pipeline.splitLeakageSafeIncremental(
          d.filter(col("doc_id") >= 400), corpus,
          "doc_id", "text", "split", Seq("len_bucket"),
          shingleSize = 3, threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
      // corpus split = md5 CASE on doc_id (< 400, the given artifact); a new
      // doc (>= 400) inherits the split of its SMALLEST block-Jaccard match,
      // else its own md5 bucket — same shingle/Jaccard math as
      // dedup_incremental_jaccard
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, n_chars // 100 AS len_bucket,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, n_chars, string_split_regex(text, ' +') AS toks
          |        FROM documents)),
          |corpus_split AS (
          |  SELECT doc_id,
          |         CASE WHEN b < 80 THEN 'train'
          |              WHEN b < 90 THEN 'valid'
          |              ELSE 'test' END AS split
          |  FROM (SELECT doc_id,
          |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
          |        FROM documents WHERE doc_id < 400)),
          |inherited AS (
          |  SELECT b.doc_id, min(c.doc_id) AS corpus_id
          |  FROM s b JOIN s c ON b.len_bucket = c.len_bucket
          |  WHERE b.doc_id >= 400 AND c.doc_id < 400
          |    AND len(list_intersect(b.sh, c.sh))::DOUBLE
          |          / len(list_distinct(b.sh || c.sh)) >= 0.5
          |  GROUP BY b.doc_id)
          |SELECT d.doc_id AS doc_id, d.lang AS lang,
          |       coalesce(cs.split,
          |         CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 80
          |                THEN 'train'
          |              WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 90
          |                THEN 'valid'
          |              ELSE 'test' END) AS split
          |FROM documents d
          |LEFT JOIN inherited i ON d.doc_id = i.doc_id
          |LEFT JOIN corpus_split cs ON i.corpus_id = cs.doc_id
          |WHERE d.doc_id >= 400
          |ORDER BY d.doc_id""".stripMargin)),

    // Leakage-safe split: near-dup clusters (exact-Jaccard pairs, the
    // dedup_clusters graph) land WHOLE in one split — the doc-keyed split
    // above would put near-identical docs on both sides of the train/test
    // boundary and contaminate every downstream eval. Per-doc output
    // (doc_id, split) so the oracle hash-checks the assignment itself,
    // not just a census.
    QuerySpec("sample_split_leakage_safe", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
      Pipeline.splitLeakageSafe(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
      // same closure as dedup_clusters; split key = the cluster's min-id
      // representative (singletons: the doc itself), same md5 bucketing as
      // sample_split — the assignment itself is hash-checked per doc
      oracle = Some(
        """WITH RECURSIVE s AS (
          |  SELECT doc_id, n_chars // 100 AS len_bucket,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, n_chars, string_split_regex(text, ' +') AS toks
          |        FROM documents)
          |),
          |pairs AS (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
          |  FROM s l JOIN s r
          |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id
          |  WHERE len(list_intersect(l.sh, r.sh))::DOUBLE
          |          / len(list_distinct(l.sh || r.sh)) >= 0.5
          |),
          |edges AS (
          |  SELECT doc_a AS u, doc_b AS v FROM pairs
          |  UNION
          |  SELECT doc_b AS u, doc_a AS v FROM pairs
          |),
          |reach AS (
          |  SELECT u, v FROM edges
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          |  WHERE e.v <> r.u
          |),
          |clusters AS (
          |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          |  FROM reach GROUP BY u
          |)
          |SELECT d.doc_id AS doc_id, d.lang AS lang,
          |       CASE WHEN b < 80 THEN 'train'
          |            WHEN b < 90 THEN 'valid'
          |            ELSE 'test' END AS split
          |FROM (SELECT d.doc_id, d.lang,
          |        ('0x' || substr(md5(coalesce(c.cluster_id, d.doc_id)::VARCHAR), 1, 4))::BIGINT
          |          % 100 AS b
          |      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id) d
          |ORDER BY doc_id""".stripMargin)),

    // Domain-mixture sampling: per-language keep rates (the pretraining
    // source-weighting step), deterministic md5 bucket — census per lang
    // proves the realized mixture.
    QuerySpec("sample_mixture", (s, dir) => {
      Pipeline.weightedSample(documents(s, dir), col("doc_id"), col("lang"),
          Map("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    },
      oracle = Some(
        """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
          |FROM (SELECT lang, n_chars,
          |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
          |      FROM documents)
          |WHERE b < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
          |                    WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 100 END
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)),

    // Exact-size weighted sample without replacement (Efraimidis-Spirtes
    // A-ES, md5-derived uniforms): a 500-doc budget preferring long
    // documents — inclusion probability proportional to n_chars, output
    // size exactly 500 regardless of the corpus. TakeOrderedAndProject
    // plan (bounded per-partition heap, no global sort); the oracle
    // recomputes the identical ln(u)/w scores, so the SELECTION ITSELF is
    // hash-checked, not just its census.
    QuerySpec("sample_reservoir_weighted", (s, dir) => {
      Pipeline.reservoirSample(documents(s, dir), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).cast("double"), k = 500)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // identical A-ES scores (md5 uniform -> ln(u)/w) recomputed in SQL: u
      // is exactly representable ((v+1)/2^32), ln is correctly rounded in
      // both engines, and the top-500 boundary is scored on identical
      // doubles — the selected SET hash-matches, scores never leave the
      // engine
      oracle = Some(
        """WITH keyed AS (
          |  SELECT doc_id, source, n_chars,
          |         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
          |            / 4294967296.0)
          |           / greatest(n_chars, 1)::DOUBLE AS es
          |  FROM documents),
          |top AS (SELECT doc_id, source, n_chars FROM keyed
          |        ORDER BY es DESC, doc_id LIMIT 500)
          |SELECT doc_id, source, n_chars FROM top ORDER BY doc_id""".stripMargin)),

    // Stratified A-ES: exact 50-doc weighted budget PER LANGUAGE (balanced
    // downsampling with a fixed per-stratum quota). Runs the salted
    // two-phase plan (saltBuckets=8) whose identity with the direct window
    // is spec-asserted; the oracle recomputes the identical per-group
    // selection with row_number over the same scores.
    QuerySpec("sample_reservoir_stratified", (s, dir) => {
      Pipeline.reservoirSamplePerKey(documents(s, dir), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).cast("double"), col("lang"),
          kPerKey = 50, saltBuckets = 8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("lang"), col("doc_id"))
    },
      oracle = Some(
        """WITH keyed AS (
          |  SELECT doc_id, lang, n_chars,
          |         ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)::DOUBLE
          |            / 4294967296.0)
          |           / greatest(n_chars, 1)::DOUBLE AS es
          |  FROM documents),
          |r AS (SELECT doc_id, lang, n_chars,
          |             row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS rk
          |      FROM keyed)
          |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 50
          |ORDER BY lang, doc_id""".stripMargin)),

    // Scan-time observability: gate metrics computed DURING the filtered
    // pass via Dataset.observe (CollectMetricsExec accumulator — zero
    // extra jobs), then emitted as a 1-row table. The oracle recomputes
    // the same aggregates with plain SQL, so the observed values are
    // hash-checked — observability with a correctness gate. All-integer
    // metrics; the action is the collect inside collectWithMetrics.
    QuerySpec("pipeline_observed_gate", (s, dir) => {
      val base = documents(s, dir)
        .filter(col("n_chars") >= 200)
        .select(col("doc_id"), col("n_chars"), col("lang"))
      val observed = graft.sources.Observe.withMetrics(base, "gate", Seq(
        "n_kept" -> count(lit(1)),
        "sum_chars" -> sum(col("n_chars")),
        "n_en" -> count_if(col("lang") === "en"),
        "min_doc" -> min(col("doc_id")),
        "max_doc" -> max(col("doc_id"))))
      val (_, m) = graft.sources.Observe.collectWithMetrics(observed, "gate")
      import s.implicits._
      Seq((m.getAs[Long]("n_kept"), m.getAs[Long]("sum_chars"), m.getAs[Long]("n_en"),
          m.getAs[Long]("min_doc"), m.getAs[Long]("max_doc")))
        .toDF("n_kept", "sum_chars", "n_en", "min_doc", "max_doc")
    },
      note = Some(
        "the gate metrics ride the filtered scan's OWN pass (Dataset.observe -> " +
          "CollectMetricsExec accumulator, zero extra jobs); the 1-row result printed here is " +
          "the collected accumulator, so this plan is a LocalTableScan — audit the observed " +
          "scan via Observe.withMetrics on any query instead."),
      oracle = Some(
        """SELECT count(*) AS n_kept,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       count(*) FILTER (WHERE lang = 'en') AS n_en,
          |       min(doc_id) AS min_doc,
          |       max(doc_id) AS max_doc
          |FROM documents
          |WHERE n_chars >= 200""".stripMargin)),

    // Per-source quota cap (the domain-frequency ceiling of web-crawl
    // curation): keep the 10 longest docs per source, census per source.
    // Runs the salted two-phase plan (saltBuckets=8) whose row-identity
    // with the direct window is asserted in ScalaTest — the oracle checks
    // the direct formulation, so the equivalence is verified end-to-end.
    QuerySpec("select_domain_cap", (s, dir) => {
      Pipeline.capPerKey(documents(s, dir), col("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), 10, col("doc_id"), saltBuckets = 8)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_kept_chars"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """SELECT source, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       min(n_chars) AS min_kept_chars
          |FROM (SELECT source, n_chars, doc_id,
          |             row_number() OVER (PARTITION BY source
          |                                ORDER BY n_chars DESC, doc_id) AS rk
          |      FROM documents)
          |WHERE rk <= 10
          |GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Cluster-balanced selection: select_domain_cap's quota shape over a
    // LEARNED key — top-5 docs by n_chars per k-means cell of the
    // embedding space, the diversity-preserving downsample when one topic
    // dominates. FIXED nlist + sampled driver fit (the linear 100 TB
    // shape — see the operator's scale note; auto-occupancy cells would
    // make flat assignment n²/occ with no pair stage to justify it).
    // No SQL oracle (k-means cells); spec-tier: nlist=1 ≡ global top-k
    // anchor, per-cell top-score identity, salted ≡ unsalted, determinism.
    QuerySpec("select_cluster_balanced", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val emb = embeddings(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      Pipeline.selectClusterBalanced(docs, emb, "doc_id", "embedding", "n_chars",
          nlist = 64, maxPerCluster = 5, trainSample = 512)
        .select(col("doc_id"), col("cell"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      twin = Some("select_cluster_balanced_exact")),

    // The nlist=1 EXACT regime of cluster-balanced selection: one cell
    // makes the per-cluster quota IDENTICAL to the global top-k cut, which
    // is plain SQL — so the DuckDB oracle hash-gates the ENTIRE
    // selectClusterBalanced pipeline (k-means fit, assignment join, salted
    // quota window included) in its degenerate-exact regime. Same
    // oracle-conversion trick as IVF's full-probe ≡ brute-force gate; the
    // nlist=64 production shape above stays rows-tier with this entry as
    // its in-family exact anchor.
    QuerySpec("select_cluster_balanced_exact", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val emb = embeddings(s, dir).select(col("vec_id").as("doc_id"), col("embedding"))
      Pipeline.selectClusterBalanced(docs, emb, "doc_id", "embedding", "n_chars",
          nlist = 1, maxPerCluster = 100, trainSample = 512)
        .select(col("doc_id"), col("cell").cast("long").as("cell"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      twin = Some("select_cluster_balanced"),
      oracle = Some(
        """SELECT doc_id, CAST(0 AS BIGINT) AS cell, source, n_chars
          |FROM (SELECT d.doc_id, d.source, d.n_chars,
          |             row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id) AS rk
          |      FROM documents d
          |      JOIN embeddings e ON e.vec_id = d.doc_id)
          |WHERE rk <= 100
          |ORDER BY doc_id""".stripMargin)),

    // Whole-document BFD bin packing (docs never straddle sequences —
    // instruction-tuning / doc-masked pretraining shape) per source at a
    // 512-whitespace-token budget. No SQL oracle (sequential bin state);
    // spec-tier: budgets exact, totality, textbook BFD assignment on a
    // hand case, salted ≡ valid, oversize singletons.
    QuerySpec("pack_bins", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      Pipeline.packBinsBFD(docs, "source", "doc_id", col("n_tok"), budget = 512L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bin_id")).as("n_bins"),
          sum(col("n_tok")).as("sum_tok"),
          max(col("n_tok")).as("max_tok"),
          sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"))
        .withColumn("fill_ratio", TextAnalysis.ratio4(
          col("sum_tok"), col("n_bins") * 512L))
        .orderBy(col("source"))
    },
      twin = Some("pack_bins_exact")),

    // BFD packing in the EXACT regime: sizes padded by 100000 with budget
    // 150000 — every doc fits a bin alone (n_chars ≪ 50000) but no two
    // docs ever share one (2×100000 > budget), so best-fit-decreasing
    // degenerates to "each doc opens the next bin in scan order" and
    // bin_id IS the per-stratum rank by (size desc, id asc) — pure SQL.
    // Hash-gates the packer's scan order, bin numbering, no-fit branch,
    // and the integral-id guard per DOCUMENT (tenth exact-regime
    // conversion); the true packing quality stays spec-tier (textbook
    // assignment + budget-exactness specs). Oracle-duty twin of
    // pack_bins above.
    QuerySpec("pack_bins_exact", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("n_pad", col("n_chars") + lit(100000L))
      // FIXTURE INVARIANT the regime rests on: every doc must have
      // n_chars ≤ 50000 (padded size ≤ budget), or oversize flips and the
      // oracle's hardcoded `false AS oversize` breaks as an opaque hash
      // mismatch. Asserted here so a regenerated fixture fails LOUDLY at
      // the query instead. One scalar agg over an already-read column —
      // negligible next to the pack itself.
      val maxChars = docs.agg(max(col("n_chars")).cast("long")).head.getLong(0)
      require(maxChars <= 50000L,
        s"pack_bins_exact: fixture max n_chars = $maxChars > 50000 — the " +
          "singleton-bin regime (pad 100000, budget 150000) no longer holds; " +
          "raise the pad/budget together to restore size+pad <= budget < 2*pad")
      Pipeline.packBinsBFD(docs, "source", "doc_id", col("n_pad"), budget = 150000L)
        .orderBy(col("source"), col("bin_id"))
    },
      twin = Some("pack_bins"),
      // singleton-bin regime: every doc opens the next bin in BFD scan
      // order, so bin_id = per-stratum rank by (size desc, id asc)
      oracle = Some(
        """SELECT source, doc_id,
          |       (n_chars + 100000)::BIGINT AS n_tok,
          |       (row_number() OVER (PARTITION BY source
          |                           ORDER BY n_chars DESC, doc_id) - 1)::BIGINT AS bin_id,
          |       false AS oversize
          |FROM documents
          |ORDER BY source, bin_id""".stripMargin)),

    // Deterministic training-order shuffle: epoch-seeded md5 of the doc id
    // is the sort key, so every engine/run/cluster size derives the SAME
    // permutation, and a new epoch string is a fresh permutation with zero
    // state. The materialized `position` (global row_number) is the ORACLE
    // SHAPE — at scale the md5 key itself IS the order (range-partitioned
    // sort on write), no global rank ever materializes.
    QuerySpec("sample_shuffle", (s, dir) => {
      val keyed = documents(s, dir)
        .withColumn("shuffle_key", md5(concat(lit("epoch1:"), col("doc_id").cast("string"))))
      keyed
        .withColumn("position",
          row_number().over(Window.orderBy(col("shuffle_key"), col("doc_id"))))
        .select(col("position"), col("doc_id"), col("shuffle_key"))
        .orderBy(col("position"))
    },
      note = Some(
        "ORACLE SHAPE: materialized global rank = single-partition sort. " +
          "At scale the md5 key IS the order (range-partitioned sort on write), " +
          "no rank column ever materializes."),
      oracle = Some(
        """SELECT row_number() OVER (ORDER BY shuffle_key, doc_id)::INTEGER AS position,
          |       doc_id, shuffle_key
          |FROM (SELECT doc_id, md5('epoch1:' || doc_id::VARCHAR) AS shuffle_key
          |      FROM documents)
          |ORDER BY position""".stripMargin)),

    // Benchmark decontamination: every 50th doc plays the eval set; train
    // docs sharing any 5-gram with it are flagged with the shared count
    // (n=5 because the fixture vocabulary is tiny — real pipelines use
    // 8-13; the one hit here is a genuine near-dup sharing a long span).
    QuerySpec("text_decontaminate", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.contaminatedDocs(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, list_distinct([array_to_string(toks[i:i+4], ' ')
          |                                for i in range(1, len(toks) - 3)]) AS sh
          |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
          |), g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
          |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
          |SELECT g.doc_id, count(*)::BIGINT AS n_shared_ngrams
          |FROM g JOIN bench USING (gram)
          |WHERE g.doc_id % 50 <> 0
          |GROUP BY g.doc_id
          |ORDER BY g.doc_id""".stripMargin)),

    // Semantic decontamination: every 25th embedding plays the eval set;
    // train vectors within cosine 0.3 of any eval vector are flagged with
    // the hit count and the strongest similarity (broadcast the eval side,
    // one corpus pass — the paraphrase-robust companion of
    // text_decontaminate's n-gram overlap).
    QuerySpec("decontaminate_semantic", (s, dir) => {
      val em = embeddings(s, dir)
      Pipeline.semanticContaminated(
          em.filter(pmod(col("vec_id"), lit(25)) =!= 0),
          em.filter(pmod(col("vec_id"), lit(25)) === 0),
          "vec_id", "embedding", 0.3)
        .orderBy(col("train_id"))
    },
      oracle = Some(
        """SELECT t.vec_id AS train_id,
          |       count(*)::BIGINT AS n_eval_hits,
          |       round(max(list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS max_cos
          |FROM embeddings t JOIN embeddings e
          |  ON t.vec_id % 25 <> 0 AND e.vec_id % 25 = 0
          | AND list_cosine_similarity(t.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= 0.3
          |GROUP BY 1
          |ORDER BY 1""".stripMargin)),

    // C4-style markup stripping: each doc deterministically wrapped in an
    // HTML frame (style + script blocks, tags, entities — the corpus
    // itself is plain text), then the portable-regex strip chain;
    // per-source audit of characters in/out. Shuffle-free per-row chain +
    // one census agg.
    QuerySpec("text_strip_markup", (s, dir) => {
      val wrapped = documents(s, dir).select(col("doc_id"), col("source"),
        concat(
          lit("<html><head><style>p{color:red}</style></head><body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p class=\"x\">"), col("text"),
          lit(" &amp; more &lt;i&gt;</p><script>var x=1;</script></body></html>"))
          .as("html"))
      wrapped.withColumn("clean", TextAnalysis.stripMarkup(col("html")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("html"))).as("chars_in"),
          sum(length(col("clean"))).as("chars_out"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH w AS (
          |  SELECT source,
          |         '<html><head><style>p{color:red}</style></head><body><h1>Doc '
          |           || doc_id::VARCHAR || '</h1><p class="x">' || text
          |           || ' &amp; more &lt;i&gt;</p><script>var x=1;</script></body></html>' AS html
          |  FROM documents),
          |c AS (
          |  SELECT source, html,
          |         trim(regexp_replace(
          |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |           regexp_replace(html,
          |             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |             '<[^>]+>', ' ', 'g'),
          |             '&lt;', '<', 'g'),
          |             '&gt;', '>', 'g'),
          |             '&quot;', '"', 'g'),
          |             '&#39;', '''', 'g'),
          |             '&nbsp;', ' ', 'g'),
          |             '&amp;', '&', 'g'),
          |             '\s+', ' ', 'g')) AS clean
          |  FROM w)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |       sum(length(html))::BIGINT AS chars_in,
          |       sum(length(clean))::BIGINT AS chars_out
          |FROM c
          |GROUP BY source
          |ORDER BY source""".stripMargin)),

    // PII scrubbing: deterministic synthetic PII appended per doc (the
    // corpus itself is clean), then the portable-regex redaction chain;
    // per-source audit of matches found and bytes removed.
    QuerySpec("text_pii_redact", (s, dir) => {
      val emailPat = TextAnalysis.PiiPatterns.head._1
      val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val withPii = documents(s, dir).select(
        col("doc_id"), col("source"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-123-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      withPii
        .withColumn("clean", TextAnalysis.redact(col("text")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(regexp_count(col("text"), lit(emailPat))).as("n_emails"),
          sum(regexp_count(col("text"), lit(phonePat))).as("n_phones"),
          sum(length(col("text")) - length(col("clean"))).as("chars_removed"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH p AS (
          |  SELECT doc_id, source,
          |         text || ' contact user' || doc_id::VARCHAR || '@example.com or 555-123-'
          |              || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, source, text,
          |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          |           '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
          |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
          |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean
          |  FROM p)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |       sum(len(regexp_extract_all(text,
          |         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')))::BIGINT AS n_emails,
          |       sum(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')))::BIGINT AS n_phones,
          |       sum(length(text) - length(clean))::BIGINT AS chars_removed
          |FROM r
          |GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Big-big range join scale path: 40 overlapping value tiers joined to
    // events WITHOUT broadcasting — band-quantized equi-join (the plan
    // q_range_join's broadcast tier can't use when the ranges side is
    // also huge). Result identical to the theta join by construction.
    QuerySpec("q_range_join_banded", (s, dir) => {
      val ranges = s.range(40).select(
        col("id").as("range_id"),
        (col("id") * 5.0).as("lo"),
        (col("id") * 5.0 + 25.0).as("hi"))
      Relational.bandedRangeJoin(events(s, dir), ranges,
          col("value"), col("lo"), col("hi"), bandWidth = 10.0)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("range_id"))
    },
      oracle = Some(
        """SELECT t.range_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
          |FROM events e
          |JOIN (SELECT range AS range_id, range * 5.0 AS lo, range * 5.0 + 25.0 AS hi
          |      FROM range(0, 40)) t
          |  ON e.value >= t.lo AND e.value < t.hi
          |GROUP BY t.range_id
          |ORDER BY t.range_id""".stripMargin)),

    // Substring-span dedup: docs sharing any 8-token run with an earlier
    // doc — catches partial duplication whole-doc fingerprints miss.
    QuerySpec("dedup_exact_substr", (s, dir) => {
      Dedup.exactSubstringDups(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH g AS (
          |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
          |                                       for i in range(1, len(toks) - 6)])) AS gram
          |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
          |), o AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
          |SELECT g.doc_id, count(*)::BIGINT AS n_shared_spans, min(o.first_doc) AS first_src
          |FROM g JOIN o USING (gram)
          |WHERE g.doc_id > o.first_doc
          |GROUP BY g.doc_id
          |ORDER BY g.doc_id""".stripMargin)),

    // Gopher rule filter: per-rule booleans + verdict per document, so the
    // pipeline can audit WHY a doc was dropped. minWords=50 and
    // minStopHits=1 are the rules that split the fixture corpus (docs are
    // 10-99 tokens, all-alpha, containing at most 'the'/'a' as stopwords).
    QuerySpec("text_gopher_filter", (s, dir) => {
      TextAnalysis.gopherRules(documents(s, dir), col("text"),
          minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
          minAlphaFrac = 0.8, minStopHits = 1)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_frac"), col("n_stop"), col("pass"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
          |m AS (
          |  SELECT doc_id,
          |         len(toks)::BIGINT AS n_words,
          |         (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
          |            + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |           / 10000.0 AS mean_word_len,
          |         (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
          |            + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |           / 10000.0 AS alpha_frac,
          |         (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
          |          CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
          |          CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
          |          CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
          |          CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END)::BIGINT AS n_stop
          |  FROM t)
          |SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stop,
          |       (n_words BETWEEN 50 AND 100000
          |        AND mean_word_len BETWEEN 3.0 AND 10.0
          |        AND alpha_frac >= 0.8 AND n_stop >= 1) AS pass
          |FROM m
          |ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 64-token windows every 48 tokens (16-token
    // overlap); the chunk itself is projected away — its md5 is the
    // engine-stable witness (and the chunk-dedup key downstream).
    QuerySpec("text_chunk", (s, dir) => {
      Pipeline.chunkTokens(documents(s, dir), col("doc_id"), col("text"),
          window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk_tokens"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      oracle = Some(
        """WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents)
          |SELECT doc_id, s // 48 AS chunk_idx,
          |       len(toks[s + 1:s + 64])::BIGINT AS chunk_tokens,
          |       md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
          |FROM d, unnest(range(0, len(toks), 48)) u(s)
          |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // DSIR importance scores (Xie et al. 2023): rank raw docs by how much
    // they "look like" a curated target domain (every 20th doc plays the
    // target). Identity bigrams keep the exact, oracle-checkable form; the
    // hashBuckets variant (spec-checked) is the bounded-weight-table scale
    // path a 100 TB corpus runs.
    QuerySpec("text_importance", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.importanceScores(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
          |rg AS (SELECT doc_id,
          |              unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
          |       FROM d WHERE doc_id % 20 <> 0),
          |tg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
          |       FROM d WHERE doc_id % 20 = 0),
          |tc AS (SELECT g, count(*) AS tc FROM tg GROUP BY g),
          |rc AS (SELECT g, count(*) AS rc FROM rg GROUP BY g),
          |w AS (SELECT rc.g, ln(coalesce(tc.tc, 0) + 1.0) - ln(rc.rc + 1.0) AS w
          |      FROM rc LEFT JOIN tc USING (g))
          |SELECT rg.doc_id, count(*)::BIGINT AS n_grams, round(avg(w.w), 4) AS score
          |FROM rg JOIN w ON rg.g = w.g
          |GROUP BY rg.doc_id
          |ORDER BY rg.doc_id""".stripMargin)),

    // DSIR selection: scoring composed with quantile thresholding — keep
    // the top 25% of raw docs by importance score. The threshold is one
    // broadcast 1-row agg; the keep decision is a per-row filter (no sort
    // or shuffle of the corpus). Closes the score → SELECT loop.
    QuerySpec("text_importance_select", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.importanceScores(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 2)
      Pipeline.selectTopByScore(scored, col("score"), keepFrac = 0.25)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
          |rg AS (SELECT doc_id,
          |              unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
          |       FROM d WHERE doc_id % 20 <> 0),
          |tg AS (SELECT unnest([array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]) AS g
          |       FROM d WHERE doc_id % 20 = 0),
          |tc AS (SELECT g, count(*) AS tc FROM tg GROUP BY g),
          |rc AS (SELECT g, count(*) AS rc FROM rg GROUP BY g),
          |w AS (SELECT rc.g, ln(coalesce(tc.tc, 0) + 1.0) - ln(rc.rc + 1.0) AS w
          |      FROM rc LEFT JOIN tc USING (g)),
          |scored AS (
          |  SELECT rg.doc_id, count(*)::BIGINT AS n_grams, round(avg(w.w), 4) AS score
          |  FROM rg JOIN w ON rg.g = w.g
          |  GROUP BY rg.doc_id),
          |sq AS (SELECT doc_id, n_grams, score,
          |              CAST(round(score * 10000, 0) AS BIGINT) AS scq
          |       FROM scored),
          |thr AS (SELECT CAST(round(quantile_cont(scq, 0.75) * 4, 0) AS BIGINT) AS tq
          |        FROM sq)
          |SELECT doc_id, n_grams, score
          |FROM sq, thr
          |WHERE scq * 4 >= tq
          |ORDER BY doc_id""".stripMargin)),

    // Per-source quality census: the monitoring view a corpus pipeline
    // keeps per domain — doc counts, Gopher pass rate, and the quality
    // metric means, grouped by provenance. One hash agg over the per-row
    // gopher expressions; the dashboard query that decides which source
    // to investigate when pass rates drift.
    QuerySpec("source_quality_census", (s, dir) => {
      TextAnalysis.gopherRules(documents(s, dir), col("text"), minStopHits = 1)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          round(avg(col("n_words")), 4).as("avg_words"),
          round(avg(col("alpha_frac")), 4).as("avg_alpha_frac"),
          round(avg(col("mean_word_len")), 4).as("avg_word_len"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH d AS (SELECT source, string_split_regex(text, ' +') AS toks FROM documents),
          |m AS (SELECT source,
          |             len(toks)::BIGINT AS n_words,
          |             (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
          |                + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |               / 10000.0 AS mean_word_len,
          |             (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
          |                + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |               / 10000.0 AS alpha_frac,
          |             (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
          |              CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
          |              CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
          |              CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
          |              CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END) AS n_stop
          |      FROM d)
          |SELECT source, count(*)::BIGINT AS n_docs,
          |       sum(CASE WHEN n_words BETWEEN 50 AND 100000
          |                 AND mean_word_len BETWEEN 3.0 AND 10.0
          |                 AND alpha_frac >= 0.8
          |                 AND n_stop >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
          |       round(avg(n_words), 4) AS avg_words,
          |       round(avg(alpha_frac), 4) AS avg_alpha_frac,
          |       round(avg(mean_word_len), 4) AS avg_word_len
          |FROM m
          |GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Canonical text normalization (NFC + lower + whitespace collapse +
    // trim) with the normalized fingerprint — the pass that runs before
    // any dedup key is computed. The fixture is ASCII so NFC is identity
    // here; the unicode behavior (composed ≡ decomposed, NFKC folding) is
    // pinned in ScalaTest.
    QuerySpec("text_normalize", (s, dir) => {
      documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")))
        .withColumn("norm_fp", md5(col("norm_text")))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """SELECT doc_id,
          |       trim(regexp_replace(lower(nfc_normalize(text)),
          |                           '[ \t\r\n]+', ' ', 'g')) AS norm_text,
          |       length(trim(regexp_replace(lower(nfc_normalize(text)),
          |                                  '[ \t\r\n]+', ' ', 'g')))::BIGINT AS n_chars_norm,
          |       md5(trim(regexp_replace(lower(nfc_normalize(text)),
          |                               '[ \t\r\n]+', ' ', 'g'))) AS norm_fp
          |FROM documents
          |ORDER BY doc_id""".stripMargin)),

    // Bigram-LM fluency scores (CCNet-style perplexity filter — Wenzek et
    // al. 2020 — with an add-alpha bigram LM standing in for KenLM): the
    // corpus scored under its own bigram distribution; rank by avg_logp
    // descending to keep fluent text, compose with selectTopByScore for
    // the actual filter.
    QuerySpec("text_bigram_ppl", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |uni AS (SELECT unnest(t) AS w FROM toks),
          |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
          |v AS (SELECT count(*) AS v FROM ucnt),
          |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
          |       FROM toks, unnest(range(1, len(t))) u(i)),
          |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
          |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1)
          |SELECT db.doc_id, sum(db.c)::BIGINT AS n_bigrams,
          |       round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
          |             / sum(db.c), 4) AS avg_logp
          |FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
          |GROUP BY db.doc_id
          |ORDER BY db.doc_id""".stripMargin)),

    // The same LM scoring at order 3 (KenLM-grade pipelines run n=5; the
    // plan shape is identical at any n) — sharper fluency signal, count
    // tables one order bigger.
    QuerySpec("text_trigram_ppl", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.ngramLogLikelihood(docs, docs, "doc_id", "text", n = 3)
        .withColumnRenamed("n_bigrams", "n_grams")
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |uni AS (SELECT unnest(t) AS w FROM toks),
          |v AS (SELECT count(DISTINCT w) AS v FROM uni),
          |ctx AS (SELECT array_to_string(t[i:i+1], ' ') AS c
          |        FROM toks, unnest(range(1, len(t))) u(i)),
          |ccnt AS (SELECT c, count(*) AS cc FROM ctx GROUP BY c),
          |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g,
          |              array_to_string(t[i:i+1], ' ') AS c
          |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
          |gcnt AS (SELECT g, count(*) AS gc FROM tg GROUP BY g),
          |db AS (SELECT doc_id, g, c, count(*) AS cnt FROM tg GROUP BY doc_id, g, c)
          |SELECT db.doc_id, sum(db.cnt)::BIGINT AS n_grams,
          |       round(sum(db.cnt * (ln(gcnt.gc + 1.0) - ln(ccnt.cc + 1.0 * v.v)))
          |             / sum(db.cnt), 4) AS avg_logp
          |FROM db JOIN gcnt USING (g) JOIN ccnt ON db.c = ccnt.c CROSS JOIN v
          |GROUP BY db.doc_id
          |ORDER BY db.doc_id""".stripMargin)),

    // The KenLM-grade upgrade of the line above: interpolated MODIFIED
    // KNESER-NEY (Chen-Goodman 1998 three-discount variant — what KenLM
    // estimates and what CCNet's published pipeline actually trains),
    // same self-scored corpus, same output contract. Every model quantity
    // is a deterministic function of count tables, so the DuckDB oracle
    // replays the ENTIRE estimator from raw parquet: trigram counts →
    // count-of-counts → discounts → continuation counts → interpolated
    // per-gram log-probs → per-doc average. An order whose discounts are
    // inestimable or out of range falls back to KenLM's documented
    // --discount_fallback defaults (0.5/1.0/1.5) — the synthetic corpus
    // at sf0.1 exercises this for real (its dense templated vocabulary
    // has no continuation count of exactly 1), so the fallback CASE is
    // itself hash-gated.
    QuerySpec("text_trigram_ppl_kn", (s, dir) => {
      val docs = documents(s, dir)
      Pipeline.knTrigramLogLikelihood(docs, docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Full modified-KN estimator replayed in SQL: counts → count-of-counts
      // → discounts (Y = t1/(t1+2t2); D_k) → continuation counts (from
      // trigram TYPES) → interpolated per-gram log-prob → per-doc average.
      // Float expression structure mirrors the Spark side term for term so
      // the doubles agree bitwise before the final 4dp round.
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
          |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
          |tri0 AS (SELECT g, count(*) AS c3 FROM tg GROUP BY g),
          |tri AS (SELECT g, c3,
          |               array_to_string(p[1:2], ' ') AS uv,
          |               array_to_string(p[2:3], ' ') AS vw,
          |               p[2] AS v, p[3] AS w
          |        FROM (SELECT g, c3, string_split(g, ' ') AS p FROM tri0)),
          |ctx3 AS (SELECT uv, sum(c3) AS ctot,
          |                sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2,
          |                sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS n3
          |         FROM tri GROUP BY uv),
          |coc3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM tri),
          |d3e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc3),
          |d3 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d3e)),
          |bg AS (SELECT vw, v, w, count(*) AS cc2 FROM tri GROUP BY vw, v, w),
          |ctx2 AS (SELECT v, sum(cc2) AS cc2tot,
          |                sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS m1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS m2,
          |                sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS m3
          |         FROM bg GROUP BY v),
          |coc2 AS (SELECT sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN cc2 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN cc2 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM bg),
          |d2e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc2),
          |d2 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d2e)),
          |uni AS (SELECT w, count(*) AS cc1 FROM bg GROUP BY w),
          |tt AS (SELECT sum(cc1)::DOUBLE AS tot FROM uni),
          |mdl AS (SELECT tri.g,
          |        ln(greatest(tri.c3::DOUBLE - (CASE WHEN tri.c3 = 1 THEN d3.d1 WHEN tri.c3 = 2 THEN d3.d2 ELSE d3.d3 END), 0.0) / ctx3.ctot::DOUBLE
          |           + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
          |             * (greatest(bg.cc2::DOUBLE - (CASE WHEN bg.cc2 = 1 THEN d2.d1 WHEN bg.cc2 = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
          |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
          |                  * (uni.cc1::DOUBLE / tt.tot))) AS lp
          |        FROM tri JOIN ctx3 USING (uv) JOIN bg USING (vw)
          |             JOIN ctx2 ON tri.v = ctx2.v JOIN uni ON tri.w = uni.w
          |             CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt),
          |db AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
          |SELECT db.doc_id, sum(db.c)::BIGINT AS n_grams,
          |       round(sum(db.c * mdl.lp) / sum(db.c), 4) AS avg_logp
          |FROM db JOIN mdl USING (g)
          |GROUP BY db.doc_id
          |ORDER BY db.doc_id""".stripMargin)),

    // The SERVED shape of the line above — the production CCNet setting
    // (train the LM once on a reference, score every crawl shard): train
    // on the even-doc_id half, score the WHOLE corpus through the
    // persistable KnModel artifact. The odd half is partly
    // out-of-vocabulary, so this query hash-gates the serve-time graded
    // backoff (missing trigram → discounted-0 + γ3·p2; missing context →
    // p2; missing v → p1; continuation-OOV grams drop) — the expression
    // ladder the oracle replays term for term. Served ≡ composed is
    // shared-code by construction (knScoreGraded); the parquet roundtrip
    // of the artifact is spec-pinned.
    QuerySpec("text_trigram_ppl_kn_served", (s, dir) => {
      val docs = documents(s, dir)
      val model = Pipeline.knTrainModel(
        docs.filter(col("doc_id") % 2 === 0), "text")
      Pipeline.knScoreAgainstModel(docs, model, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // The estimator above trained on the even-doc_id half only, scoring
      // the whole corpus: in-model grams read mdl.lp; the OOV remainder
      // replays the graded backoff ladder with the SAME float expression
      // structure as the Spark side (0-numerator discounted top order +
      // γ3·p2 under a seen context; p2 under a seen v; p1 otherwise;
      // NULL continuation unigram → gram dropped).
      oracle = Some(
        """WITH rtoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t
          |               FROM documents WHERE doc_id % 2 = 0),
          |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
          |       FROM rtoks, unnest(range(1, len(t) - 1)) u(i)),
          |tri0 AS (SELECT g, count(*) AS c3 FROM tg GROUP BY g),
          |tri AS (SELECT g, c3,
          |               array_to_string(p[1:2], ' ') AS uv,
          |               array_to_string(p[2:3], ' ') AS vw,
          |               p[2] AS v, p[3] AS w
          |        FROM (SELECT g, c3, string_split(g, ' ') AS p FROM tri0)),
          |ctx3 AS (SELECT uv, sum(c3) AS ctot,
          |                sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2,
          |                sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS n3
          |         FROM tri GROUP BY uv),
          |coc3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM tri),
          |d3e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc3),
          |d3 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d3e)),
          |bg AS (SELECT vw, v, w, count(*) AS cc2 FROM tri GROUP BY vw, v, w),
          |ctx2 AS (SELECT v, sum(cc2) AS cc2tot,
          |                sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS m1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS m2,
          |                sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS m3
          |         FROM bg GROUP BY v),
          |coc2 AS (SELECT sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN cc2 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN cc2 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM bg),
          |d2e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc2),
          |d2 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d2e)),
          |uni AS (SELECT w, count(*) AS cc1 FROM bg GROUP BY w),
          |tt AS (SELECT sum(cc1)::DOUBLE AS tot FROM uni),
          |mdl AS (SELECT tri.g,
          |        ln(greatest(tri.c3::DOUBLE - (CASE WHEN tri.c3 = 1 THEN d3.d1 WHEN tri.c3 = 2 THEN d3.d2 ELSE d3.d3 END), 0.0) / ctx3.ctot::DOUBLE
          |           + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
          |             * (greatest(bg.cc2::DOUBLE - (CASE WHEN bg.cc2 = 1 THEN d2.d1 WHEN bg.cc2 = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
          |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
          |                  * (uni.cc1::DOUBLE / tt.tot))) AS lp
          |        FROM tri JOIN ctx3 USING (uv) JOIN bg USING (vw)
          |             JOIN ctx2 ON tri.v = ctx2.v JOIN uni ON tri.w = uni.w
          |             CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt),
          |atoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |atg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
          |        FROM atoks, unnest(range(1, len(t) - 1)) u(i)),
          |db AS (SELECT doc_id, g, count(*) AS c FROM atg GROUP BY doc_id, g),
          |seen AS (SELECT db.doc_id, db.c, mdl.lp FROM db JOIN mdl USING (g)),
          |un0 AS (SELECT db.doc_id, db.g, db.c FROM db LEFT JOIN mdl USING (g)
          |        WHERE mdl.lp IS NULL),
          |unk AS (SELECT doc_id, c,
          |               array_to_string(p[1:2], ' ') AS uv,
          |               array_to_string(p[2:3], ' ') AS vw,
          |               p[2] AS v, p[3] AS w
          |        FROM (SELECT doc_id, c, string_split(g, ' ') AS p FROM un0)),
          |unb AS (SELECT unk.doc_id, unk.c,
          |        ln(CASE WHEN ctx3.ctot IS NOT NULL THEN
          |             greatest(0.0 - d3.d3, 0.0) / ctx3.ctot::DOUBLE
          |             + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
          |               * (CASE WHEN ctx2.cc2tot IS NOT NULL THEN
          |                    greatest(COALESCE(bgs.cc2::DOUBLE, 0.0) - (CASE WHEN COALESCE(bgs.cc2, 0) = 1 THEN d2.d1 WHEN COALESCE(bgs.cc2, 0) = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
          |                    + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
          |                      * (uni.cc1::DOUBLE / tt.tot)
          |                  ELSE uni.cc1::DOUBLE / tt.tot END)
          |           ELSE
          |             (CASE WHEN ctx2.cc2tot IS NOT NULL THEN
          |                greatest(COALESCE(bgs.cc2::DOUBLE, 0.0) - (CASE WHEN COALESCE(bgs.cc2, 0) = 1 THEN d2.d1 WHEN COALESCE(bgs.cc2, 0) = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
          |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
          |                  * (uni.cc1::DOUBLE / tt.tot)
          |              ELSE uni.cc1::DOUBLE / tt.tot END)
          |           END) AS lp
          |        FROM unk
          |        LEFT JOIN ctx3 USING (uv)
          |        LEFT JOIN (SELECT vw, cc2 FROM bg) bgs USING (vw)
          |        LEFT JOIN ctx2 ON unk.v = ctx2.v
          |        LEFT JOIN uni ON unk.w = uni.w
          |        CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt),
          |alls AS (SELECT doc_id, c, lp FROM seen
          |         UNION ALL
          |         SELECT doc_id, c, lp FROM unb WHERE lp IS NOT NULL)
          |SELECT doc_id, sum(c)::BIGINT AS n_grams,
          |       round(sum(c * lp) / sum(c), 4) AS avg_logp
          |FROM alls
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin)),

    // The CCNet loop closed: fluency scoring composed with the quantile
    // threshold — keep the most reference-like half of the corpus. Same
    // composition shape as text_importance_select, over the LM score.
    QuerySpec("text_fluency_select", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
      Pipeline.selectTopByScore(scored, col("avg_logp"), keepFrac = 0.5)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |uni AS (SELECT unnest(t) AS w FROM toks),
          |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
          |v AS (SELECT count(*) AS v FROM ucnt),
          |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
          |       FROM toks, unnest(range(1, len(t))) u(i)),
          |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
          |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1),
          |scored AS (
          |  SELECT db.doc_id, sum(db.c)::BIGINT AS n_bigrams,
          |         round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
          |               / sum(db.c), 4) AS avg_logp
          |  FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
          |  GROUP BY db.doc_id),
          |sq AS (SELECT doc_id, n_bigrams, avg_logp,
          |              CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
          |       FROM scored),
          |thr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
          |        FROM sq)
          |SELECT doc_id, n_bigrams, avg_logp
          |FROM sq, thr
          |WHERE scq * 4 >= tq
          |ORDER BY doc_id""".stripMargin)),

    // The same CCNet selection loop on the estimator CCNet actually
    // trains (KenLM-grade modified Kneser-Ney, text_trigram_ppl_kn)
    // instead of the add-alpha stand-in: score every doc with the KN
    // trigram LM, keep the most reference-like half via the broadcast
    // quantile threshold. Oracle = the full KN estimator SQL composed
    // with the select tail — both halves already hash-gated standalone,
    // composed here so the production filter is gated end-to-end.
    QuerySpec("text_fluency_select_kn", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.knTrigramLogLikelihood(docs, docs, "doc_id", "text")
      Pipeline.selectTopByScore(scored, col("avg_logp"), keepFrac = 0.5)
        .orderBy(col("doc_id"))
    },
      // The KN estimator SQL composed with the quantile-select tail
      // (the sq/thr form text_fluency_select uses) -- the CCNet filter on
      // the estimator CCNet actually trains, gated end-to-end.
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |tg AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
          |       FROM toks, unnest(range(1, len(t) - 1)) u(i)),
          |tri0 AS (SELECT g, count(*) AS c3 FROM tg GROUP BY g),
          |tri AS (SELECT g, c3,
          |               array_to_string(p[1:2], ' ') AS uv,
          |               array_to_string(p[2:3], ' ') AS vw,
          |               p[2] AS v, p[3] AS w
          |        FROM (SELECT g, c3, string_split(g, ' ') AS p FROM tri0)),
          |ctx3 AS (SELECT uv, sum(c3) AS ctot,
          |                sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2,
          |                sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS n3
          |         FROM tri GROUP BY uv),
          |coc3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM tri),
          |d3e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc3),
          |d3 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d3e)),
          |bg AS (SELECT vw, v, w, count(*) AS cc2 FROM tri GROUP BY vw, v, w),
          |ctx2 AS (SELECT v, sum(cc2) AS cc2tot,
          |                sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END) AS m1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END) AS m2,
          |                sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END) AS m3
          |         FROM bg GROUP BY v),
          |coc2 AS (SELECT sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS t1,
          |                sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::DOUBLE AS t2,
          |                sum(CASE WHEN cc2 = 3 THEN 1 ELSE 0 END)::DOUBLE AS t3,
          |                sum(CASE WHEN cc2 = 4 THEN 1 ELSE 0 END)::DOUBLE AS t4
          |         FROM bg),
          |d2e AS (SELECT t1, t2, t3,
          |               1.0 - 2.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t1 > 0.0 THEN t2 / t1 ELSE 0.0 END) AS d1e,
          |               2.0 - 3.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t2 > 0.0 THEN t3 / t2 ELSE 0.0 END) AS d2e,
          |               3.0 - 4.0 * (CASE WHEN t1 + 2.0 * t2 > 0.0 THEN t1 / (t1 + 2.0 * t2) ELSE 0.0 END)
          |                         * (CASE WHEN t3 > 0.0 THEN t4 / t3 ELSE 0.0 END) AS d3e
          |        FROM coc2),
          |d2 AS (SELECT CASE WHEN ok THEN d1e ELSE 0.5 END AS d1,
          |              CASE WHEN ok THEN d2e ELSE 1.0 END AS d2,
          |              CASE WHEN ok THEN d3e ELSE 1.5 END AS d3
          |       FROM (SELECT d1e, d2e, d3e,
          |                    t1 > 0.0 AND t2 > 0.0 AND t3 > 0.0
          |                    AND d1e >= 0.0 AND d1e <= 1.0 AND d2e >= 0.0 AND d2e <= 2.0
          |                    AND d3e >= 0.0 AND d3e <= 3.0 AS ok FROM d2e)),
          |uni AS (SELECT w, count(*) AS cc1 FROM bg GROUP BY w),
          |tt AS (SELECT sum(cc1)::DOUBLE AS tot FROM uni),
          |mdl AS (SELECT tri.g,
          |        ln(greatest(tri.c3::DOUBLE - (CASE WHEN tri.c3 = 1 THEN d3.d1 WHEN tri.c3 = 2 THEN d3.d2 ELSE d3.d3 END), 0.0) / ctx3.ctot::DOUBLE
          |           + ((d3.d1 * ctx3.n1::DOUBLE + d3.d2 * ctx3.n2::DOUBLE + d3.d3 * ctx3.n3::DOUBLE) / ctx3.ctot::DOUBLE)
          |             * (greatest(bg.cc2::DOUBLE - (CASE WHEN bg.cc2 = 1 THEN d2.d1 WHEN bg.cc2 = 2 THEN d2.d2 ELSE d2.d3 END), 0.0) / ctx2.cc2tot::DOUBLE
          |                + ((d2.d1 * ctx2.m1::DOUBLE + d2.d2 * ctx2.m2::DOUBLE + d2.d3 * ctx2.m3::DOUBLE) / ctx2.cc2tot::DOUBLE)
          |                  * (uni.cc1::DOUBLE / tt.tot))) AS lp
          |        FROM tri JOIN ctx3 USING (uv) JOIN bg USING (vw)
          |             JOIN ctx2 ON tri.v = ctx2.v JOIN uni ON tri.w = uni.w
          |             CROSS JOIN d3 CROSS JOIN d2 CROSS JOIN tt),
          |db AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
          |scored AS (SELECT db.doc_id, sum(db.c)::BIGINT AS n_grams,
          |                  round(sum(db.c * mdl.lp) / sum(db.c), 4) AS avg_logp
          |           FROM db JOIN mdl USING (g)
          |           GROUP BY db.doc_id),
          |sq AS (SELECT doc_id, n_grams, avg_logp,
          |              CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
          |       FROM scored),
          |thr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
          |        FROM sq)
          |SELECT doc_id, n_grams, avg_logp
          |FROM sq, thr
          |WHERE scq * 4 >= tq
          |ORDER BY doc_id""".stripMargin)),

    // CCNet's other half: the head/middle/tail split. Per-language ntile
    // over the bigram-LM score (desc, doc_id tiebreak) — equal-thirds by
    // construction, and the ntile deal is SQL-standard on both engines so
    // the per-doc bucket is oracle-exact. Docs shorter than the LM order
    // drop (no score), same as text_bigram_ppl.
    QuerySpec("text_ccnet_buckets", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Pipeline.perplexityBuckets(scored, Seq(col("lang")), col("avg_logp"), col("doc_id"))
        .withColumn("ppl_bucket",
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("avg_logp"), col("ppl_bucket"))
        .orderBy(col("doc_id"))
    },
      twin = Some("text_ccnet_buckets_scale"),
      note = Some(
        "exact ntile = per-lang window sort (one language can dominate a web corpus). " +
          "Scale path: text_ccnet_buckets_scale (perplexityBucketsApprox — per-lang t-digest " +
          "boundaries broadcast, per-row assignment, no sort)."),
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM documents),
          |uni AS (SELECT unnest(t) AS w FROM toks),
          |ucnt AS (SELECT w, count(*) AS uc FROM uni GROUP BY w),
          |v AS (SELECT count(*) AS v FROM ucnt),
          |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
          |       FROM toks, unnest(range(1, len(t))) u(i)),
          |bcnt AS (SELECT b, count(*) AS bc FROM bg GROUP BY b),
          |db AS (SELECT doc_id, b, w1, count(*) AS c FROM bg GROUP BY doc_id, b, w1),
          |scored AS (
          |  SELECT db.doc_id,
          |         round(sum(db.c * (ln(bcnt.bc + 1.0) - ln(ucnt.uc + 1.0 * v.v)))
          |               / sum(db.c), 4) AS avg_logp
          |  FROM db JOIN bcnt USING (b) JOIN ucnt ON db.w1 = ucnt.w CROSS JOIN v
          |  GROUP BY db.doc_id),
          |nt AS (SELECT s.doc_id, d.lang, s.avg_logp,
          |              ntile(3) OVER (PARTITION BY d.lang
          |                             ORDER BY s.avg_logp DESC, s.doc_id) AS b
          |       FROM scored s JOIN documents d USING (doc_id))
          |SELECT doc_id, lang, avg_logp,
          |       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
          |FROM nt
          |ORDER BY doc_id""".stripMargin)),

    // The CCNet bucketing's no-sort scale path: per-lang t-digest
    // boundaries broadcast, per-row assignment — census per (lang,
    // bucket). (No SQL oracle: sketch-boundary-dependent, like
    // q_histogram_equidepth_scale; totality/monotonicity/balance are
    // spec-asserted, and the exact ntile form above is the hash-checked
    // anchor.)
    QuerySpec("text_ccnet_buckets_scale", (s, dir) => {
      val docs = documents(s, dir)
      val scored = Pipeline.bigramLogLikelihood(docs, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      Pipeline.perplexityBucketsApprox(scored, Seq("lang"), col("avg_logp"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("avg_logp")).as("min_logp"), max(col("avg_logp")).as("max_logp"))
        .orderBy(col("lang"), col("bucket"))
    },
      twin = Some("text_ccnet_buckets")),

    // Token-budget selection: per-language, keep the highest-alpha-ratio
    // docs until 10k chars of budget fill — the budget-constrained
    // cousin of text_importance_select (a token budget, not a keep
    // fraction). alpha_ratio is ratio4-quantized (exact integers / 10⁴),
    // n_chars and the cumsum are BIGINTs — integer-exact end to end.
    QuerySpec("select_token_budget", (s, dir) => {
      val scored = TextAnalysis.withQuality(documents(s, dir), col("text"))
      Pipeline.selectByTokenBudget(scored, Seq(col("lang")), col("alpha_ratio"),
          col("n_chars"), col("doc_id"), budget = 10000L)
        .select(col("doc_id"), col("lang"), col("alpha_ratio"),
          col("n_chars"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH q AS (SELECT doc_id, lang, n_chars,
          |                  (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
          |                     + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
          |                    / 10000.0 AS alpha_ratio
          |           FROM documents),
          |c AS (SELECT doc_id, lang, alpha_ratio, n_chars,
          |             CAST(sum(n_chars) OVER (PARTITION BY lang
          |                                     ORDER BY alpha_ratio DESC, doc_id
          |                                     ROWS BETWEEN UNBOUNDED PRECEDING
          |                                     AND CURRENT ROW) AS BIGINT)
          |               AS cum_tokens
          |      FROM q)
          |SELECT doc_id, lang, alpha_ratio, n_chars, cum_tokens
          |FROM c WHERE cum_tokens <= 10000
          |ORDER BY doc_id""".stripMargin)),

    // The mixture-drives-selection composition: temperatureRates (T = 2)
    // allocates each source's TOKEN BUDGET (rate × mass, integer DIV),
    // and selectByTokenBudget fills each budget with that source's
    // best-alpha-ratio docs. Census per source proves sum_chars ≤ budget.
    // Every step is integer or correctly-rounded IEEE — full oracle.
    QuerySpec("select_temperature_budget", (s, dir) => {
      val docs = documents(s, dir)
      val budgets = Pipeline.temperatureRates(docs, col("source"), col("n_chars"), 2.0)
        .select(col("group").as("source"),
          expr("(rate_bp * n_tokens) DIV 10000").as("budget"))
      val scored = TextAnalysis.withQuality(docs, col("text"))
        .join(broadcast(budgets), Seq("source"))
      Pipeline.selectByTokenBudget(scored, Seq(col("source")), col("alpha_ratio"),
          col("n_chars"), col("doc_id"), col("budget"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          max(col("budget")).as("budget_chars"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH n AS (SELECT source, sum(n_chars) AS nt FROM documents GROUP BY source),
          |r AS (SELECT source, nt,
          |             CAST(floor(sqrt((SELECT min(nt) FROM n WHERE nt > 0)::DOUBLE
          |                             / nt::DOUBLE) * 10000) AS BIGINT) AS rate_bp
          |      FROM n),
          |b AS (SELECT source, (rate_bp * nt) // 10000 AS budget FROM r),
          |q AS (SELECT doc_id, source, n_chars,
          |             (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
          |                + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
          |               / 10000.0 AS alpha_ratio
          |      FROM documents),
          |c AS (SELECT q.source, q.n_chars, b.budget,
          |             CAST(sum(q.n_chars) OVER (PARTITION BY q.source
          |                                       ORDER BY q.alpha_ratio DESC, q.doc_id
          |                                       ROWS BETWEEN UNBOUNDED PRECEDING
          |                                       AND CURRENT ROW) AS BIGINT) AS cum
          |      FROM q JOIN b USING (source))
          |SELECT source, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
          |       CAST(max(budget) AS BIGINT) AS budget_chars
          |FROM c WHERE cum <= budget
          |GROUP BY source
          |ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture (T = 2): per-source keep rates from
    // token mass, applied as a deterministic md5 sample — census per
    // source proves the realized mixture. T = 2 keeps the whole rate
    // derivation in correctly-rounded IEEE ops (sqrt, not pow), so the
    // basis-point rates are bit-identical cross-engine.
    QuerySpec("sample_temperature", (s, dir) => {
      Pipeline.temperatureSample(documents(s, dir), col("doc_id"),
          col("source"), col("n_chars"), temperature = 2.0)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },
      oracle = Some(
        """WITH n AS (SELECT source, sum(n_chars) AS nt FROM documents GROUP BY source),
          |r AS (SELECT source,
          |             CAST(floor(sqrt((SELECT min(nt) FROM n WHERE nt > 0)::DOUBLE
          |                             / nt::DOUBLE) * 10000) AS BIGINT) AS rate_bp
          |      FROM n)
          |SELECT d.source, count(*)::BIGINT AS n_docs, sum(d.n_chars)::BIGINT AS sum_chars
          |FROM documents d JOIN r USING (source)
          |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < r.rate_bp
          |GROUP BY d.source
          |ORDER BY d.source""".stripMargin)),

    // Chunk-level dedup composition: chunkTokens' chunk_hash feeding
    // Dedup.exactByKey — dedup CHUNKS across documents (boilerplate spans
    // repeat even when whole docs differ), reporting per-doc chunk counts
    // and how many survive as the canonical copy. The keeper of each
    // distinct chunk is the lowest (doc_id, chunk_idx) — deterministic.
    QuerySpec("dedup_chunks", (s, dir) => {
      val chunks = Pipeline.chunkTokens(documents(s, dir), col("doc_id"),
          col("text"), window = 64, stride = 48)
        .withColumn("chunk_uid", col("id") * lit(1000000L) + col("chunk_idx"))
      val keep = Dedup.exactByKey(
        chunks.select(col("chunk_hash"), col("chunk_uid")),
        col("chunk_hash"), col("chunk_uid"))
      chunks
        .join(keep.select(col("chunk_uid"), lit(1L).as("__kept")),
          Seq("chunk_uid"), "left")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH d AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
          |c AS (SELECT doc_id,
          |             doc_id * 1000000 + s // 48 AS chunk_uid,
          |             md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
          |      FROM d, unnest(range(0, len(toks), 48)) u(s)),
          |k AS (SELECT chunk_hash, min(chunk_uid) AS chunk_uid FROM c GROUP BY chunk_hash)
          |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
          |       sum(CASE WHEN k.chunk_uid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
          |FROM c LEFT JOIN k ON c.chunk_uid = k.chunk_uid
          |GROUP BY c.doc_id
          |ORDER BY c.doc_id""".stripMargin)),

    // Line-level boilerplate dedup (C4/RefinedWeb-style): lines repeated
    // across the corpus are stripped, documents rebuilt from what's left.
    // The fixture's documents are single-line, so the query frames each in
    // the boilerplate a crawled page carries (header/footer repeated on
    // every doc) — the frame must vanish, unique content must survive, and
    // whole-doc duplicate content lines (which repeat corpus-wide) go too.
    QuerySpec("dedup_lines", (s, dir) => {
      val framed = documents(s, dir).select(col("doc_id"),
        concat(lit("subscribe to our newsletter\n"), col("text"),
          lit("\ncopyright example corp all rights reserved")).as("page"))
      Dedup.lineLevelDedup(framed, "doc_id", "page", maxOcc = 1)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id,
          |         'subscribe to our newsletter' || chr(10) || text || chr(10) ||
          |         'copyright example corp all rights reserved' AS page
          |  FROM documents),
          |s AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM d),
          |l AS (SELECT doc_id, i + 1 AS line_no, ls[i + 1] AS line
          |      FROM s, unnest(range(0, len(ls))) u(i)),
          |hot AS (SELECT trim(line, ' ' || chr(13)) AS k, count(*) AS c
          |        FROM l WHERE trim(line, ' ' || chr(13)) <> ''
          |        GROUP BY 1 HAVING count(*) > 1),
          |m AS (SELECT l.doc_id, l.line_no, l.line, hot.k IS NULL AS keep
          |      FROM l LEFT JOIN hot ON trim(l.line, ' ' || chr(13)) = hot.k)
          |SELECT doc_id, count(*)::BIGINT AS n_lines,
          |       coalesce(sum(CASE WHEN keep THEN 0 ELSE 1 END), 0)::BIGINT AS n_removed,
          |       coalesce(string_agg(line, chr(10) ORDER BY line_no)
          |                  FILTER (WHERE keep), '') AS text_clean
          |FROM m
          |GROUP BY doc_id
          |ORDER BY doc_id""".stripMargin)),

    // The full training-data pipeline as ONE composed query — the thing a
    // real user builds first from these operators. Round-10 widening:
    // normalization runs before the dedup key, the CCNet fluency gate runs
    // after decontamination, and the corpus ships as DEDUPED CHUNKS, so
    // the census is per-(lang, split) doc/chunk counts. Stages:
    // bench holdout → Gopher quality gate → PII redaction → canonical
    // NORMALIZATION → whole-doc exact dedup → benchmark decontamination →
    // CCNet FLUENCY gate → domain-mixture sampling → deterministic split →
    // token CHUNKING → chunk-level exact dedup → census. Proves the
    // operators compose without column/name collisions; every doc stage is
    // a shrink (spec asserts monotonicity). Each stage keeps
    // its scale shape: per-row filters, hash aggs, one broadcast-able gram
    // join — the composition adds no new shuffle beyond its stages.
    //
    // STAGE MATERIALIZATION: the decontaminated corpus feeds the fluency
    // LM four ways (n-gram counts, context counts, vocab, per-doc score)
    // and the quantile gate scans its input twice, so without a barrier
    // the full upstream chain re-executes ~9×. A production pipeline
    // writes each stage to parquet and reads it back; inside one
    // composed query the equivalent barrier is a LAZY localCheckpoint on
    // the reused stage outputs (decon, split) — computed once at the
    // first action, shared by every consumer, spills to executor disk
    // (MEMORY_AND_DISK) when the stage outgrows storage memory, and the
    // blocks are ContextCleaner-owned: released when the plan is GC'd.
    // NOT persist(): the CacheManager holds a strong reference to cached
    // plans until an unpersist() nobody here can issue (the stages are
    // consumed lazily by the returned plan), so persist leaked the stage
    // for the session AND let a later plan-equal invocation silently
    // reuse the first invocation's cache — the basket_rules bench
    // flattering class (BENCH_TRIAGE_r14). Trade: truncated lineage means
    // executor loss after a barrier materializes fails the run where
    // persist recomputed — the production answer is the real
    // stage-to-parquet barrier; in one composed query, rerun on failure.
    QuerySpec("pipeline_e2e", (s, dir) => {
      val docs = documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      val quality = TextAnalysis.gopherRules(train, col("text"),
          minWords = 50, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
          minAlphaFrac = 0.8, minStopHits = 1)
        .filter(col("pass"))
        .select(col("doc_id"), col("lang"), col("text"))
      val clean = quality.withColumn("text", TextAnalysis.redact(col("text")))
      // canonical normalization BEFORE any dedup key is computed; lazy
      // stage boundary (r21): normed forks into the fingerprint agg and
      // the keep join, whose pruned copies re-ran the regex-heavy
      // gopher → redact → normalize chain twice per plan
      val normed = clean.withColumn("text", TextAnalysis.normalizeText(col("text")))
        .localCheckpoint(false)
      val keepIds = Dedup.exactByKey(
        normed.select(TextAnalysis.md5Fingerprint(col("text")).as("fp"), col("doc_id")),
        col("fp"), col("doc_id"))
      val deduped = normed.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val contaminated = Pipeline.contaminatedDocs(deduped, bench, "doc_id", "text", n = 5)
        .select(col("doc_id"))
      val decon = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)
      // CCNet gate: the surviving corpus scored under its own bigram LM,
      // keep the most fluent half (quantile threshold, no corpus sort)
      val fluentIds = Pipeline.selectTopByScore(
          Pipeline.bigramLogLikelihood(decon, decon, "doc_id", "text"),
          col("avg_logp"), keepFrac = 0.5)
        .select(col("doc_id"))
      val fluent = decon.join(fluentIds, Seq("doc_id"), "left_semi")
      val mixed = Pipeline.weightedSample(fluent, col("doc_id"), col("lang"),
        Map("en" -> 100, "de" -> 50, "fr" -> 50, "es" -> 25, "zh" -> 10))
      val split = Pipeline.deterministicSplit(mixed, col("doc_id"))
        .localCheckpoint(false)
      // ship as deduped CHUNKS: token windows, exact chunk dedup (lowest
      // (doc, idx) keeps the canonical copy), census per (lang, split)
      val chunks = Pipeline.chunkTokens(split, col("doc_id"), col("text"),
          window = 64, stride = 48)
        .withColumn("chunk_uid", col("id") * lit(1000000L) + col("chunk_idx"))
      val keepChunks = Dedup.exactByKey(
        chunks.select(col("chunk_hash"), col("chunk_uid")),
        col("chunk_hash"), col("chunk_uid"))
      chunks
        .join(keepChunks.select(col("chunk_uid"), lit(1L).as("__kept")),
          Seq("chunk_uid"), "left")
        .join(split.select(col("doc_id").as("id"), col("lang"), col("split")), Seq("id"))
        .groupBy(col("lang"), col("split"))
        .agg(countDistinct(col("id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_chunks_kept"))
        .orderBy(col("lang"), col("split"))
    },
      oracle = Some(
        """WITH train AS (
          |  SELECT doc_id, lang, text, string_split_regex(text, ' +') AS toks
          |  FROM documents WHERE doc_id % 50 <> 0),
          |q AS (
          |  SELECT doc_id, lang, text FROM train
          |  WHERE len(toks) BETWEEN 50 AND 100000
          |    AND (20000 * coalesce(list_sum([length(x) for x in toks]), 0)
          |           + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |          / 10000.0 BETWEEN 3.0 AND 10.0
          |    AND (20000 * len([x for x in toks if regexp_matches(x, '\p{L}')])
          |           + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |          / 10000.0 >= 0.8
          |    AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
          |         CASE WHEN list_contains(toks, 'a')   THEN 1 ELSE 0 END +
          |         CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
          |         CASE WHEN list_contains(toks, 'of')  THEN 1 ELSE 0 END +
          |         CASE WHEN list_contains(toks, 'to')  THEN 1 ELSE 0 END) >= 1),
          |r AS (
          |  SELECT doc_id, lang,
          |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
          |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          |           '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
          |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
          |           '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS text
          |  FROM q),
          |nrm AS (
          |  SELECT doc_id, lang,
          |         trim(regexp_replace(lower(nfc_normalize(text)),
          |                             '[ \t\r\n]+', ' ', 'g')) AS text
          |  FROM r),
          |k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY md5(lower(trim(text)))),
          |dd AS (SELECT nrm.* FROM nrm JOIN k USING (doc_id)),
          |bg AS (
          |  SELECT DISTINCT unnest(list_distinct(
          |           [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])) AS gram
          |  FROM (SELECT string_split_regex(text, ' +') AS toks
          |        FROM documents WHERE doc_id % 50 = 0)),
          |tg AS (
          |  SELECT doc_id, unnest(list_distinct(
          |           [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)])) AS gram
          |  FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM dd)),
          |contam AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram)),
          |decon AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          |ftoks AS (SELECT doc_id, string_split_regex(text, ' +') AS t FROM decon),
          |funi AS (SELECT unnest(t) AS w FROM ftoks),
          |fucnt AS (SELECT w, count(*) AS uc FROM funi GROUP BY w),
          |fv AS (SELECT count(*) AS v FROM fucnt),
          |fbg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b, t[i] AS w1
          |        FROM ftoks, unnest(range(1, len(t))) u(i)),
          |fbcnt AS (SELECT b, count(*) AS bc FROM fbg GROUP BY b),
          |fdb AS (SELECT doc_id, b, w1, count(*) AS c FROM fbg GROUP BY doc_id, b, w1),
          |fscore AS (
          |  SELECT fdb.doc_id,
          |         round(sum(fdb.c * (ln(fbcnt.bc + 1.0) - ln(fucnt.uc + 1.0 * fv.v)))
          |               / sum(fdb.c), 4) AS avg_logp
          |  FROM fdb JOIN fbcnt USING (b) JOIN fucnt ON fdb.w1 = fucnt.w CROSS JOIN fv
          |  GROUP BY fdb.doc_id),
          |fsq AS (SELECT doc_id, CAST(round(avg_logp * 10000, 0) AS BIGINT) AS scq
          |        FROM fscore),
          |fthr AS (SELECT CAST(round(quantile_cont(scq, 0.5) * 4, 0) AS BIGINT) AS tq
          |         FROM fsq),
          |fluent AS (SELECT decon.* FROM decon JOIN fsq USING (doc_id), fthr
          |           WHERE fsq.scq * 4 >= fthr.tq),
          |mixed AS (
          |  SELECT * FROM fluent
          |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 <
          |        CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
          |                  WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 100 END),
          |final AS (
          |  SELECT doc_id, lang, text,
          |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
          |              ELSE 'test' END AS split
          |  FROM (SELECT doc_id, lang, text,
          |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
          |        FROM mixed)),
          |fc AS (SELECT doc_id, lang, split, string_split_regex(text, ' +') AS toks
          |       FROM final),
          |c AS (SELECT doc_id, lang, split,
          |             doc_id * 1000000 + s // 48 AS chunk_uid,
          |             md5(array_to_string(toks[s + 1:s + 64], ' ')) AS chunk_hash
          |      FROM fc, unnest(range(0, len(toks), 48)) u(s)),
          |kc AS (SELECT chunk_hash, min(chunk_uid) AS chunk_uid FROM c GROUP BY chunk_hash)
          |SELECT lang, split, count(DISTINCT c.doc_id)::BIGINT AS n_docs,
          |       count(*)::BIGINT AS n_chunks,
          |       sum(CASE WHEN kc.chunk_uid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
          |         AS n_chunks_kept
          |FROM c LEFT JOIN kc ON c.chunk_uid = kc.chunk_uid
          |GROUP BY lang, split
          |ORDER BY lang, split""".stripMargin))
  )
}
