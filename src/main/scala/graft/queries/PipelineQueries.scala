package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables.{documents, embeddings, events, lineitem, orders}
import graft.functions.{FrequentItems, VectorFunctions}
import graft.operators.{Dedup, Guards, QualityModel, Similarity, TextAnalysis, Timeseries, WindowAssign}

/** LLM-pipeline operators: dedup, text statistics and quality, similarity
  * search and embedding ops, with their grouping and percentile companions.
  */
object PipelineQueries {

  val specs: Seq[QuerySpec] = Seq(

    // Term frequency: explode word tokens → hash agg → global top-20.
    QuerySpec("text_term_freq", (s, dir) => {
      documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
      oracle = Some(
        """SELECT token, count(*) AS n
          |FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
          |      FROM documents)
          |GROUP BY token
          |ORDER BY n DESC, token
          |LIMIT 20""".stripMargin)),

    // Heavy hitters WITHOUT shuffling the vocabulary: Misra-Gries sketch
    // (256 counters per partition, merge-order-invariant sum, top 20 at
    // eval) — the scale companion of text_term_freq's exact hash agg,
    // whose exchange carries one row per distinct term per partition (no
    // SQL oracle: summary-dependent estimates; the n/(k+1) undercount
    // guarantee is asserted against exact counts in ScalaTest).
    QuerySpec("text_heavy_hitters", (s, dir) => {
      documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
        .agg(FrequentItems.freqItems(col("token"), 256, 20).as("hh"))
        .select(posexplode(col("hh")).as(Seq("rank0", "e")))
        .select((col("rank0") + 1).as("rank"),
          col("e.item").as("token"), col("e.est_count").as("est_count"))
    },
      twin = Some("text_heavy_hitters_exact")),

    // The SAME native Misra-Gries aggregate in its EXACT regime: MG never
    // decrements when capacity >= distinct items, so with the fixture
    // vocabulary far below the 4096 capacity the sketch's counts ARE the
    // exact term frequencies — which hands the whole native-aggregate
    // path (update/merge/serialize/eval tie-break) a DuckDB hash gate,
    // the generated-oracle trick that took BPE to oracle tier. The sketch
    // regime above stays rows-tier by nature. The premise is ENFORCED in
    // the plan: an assert_true filter on the distinct-token count raises
    // loudly if a larger corpus ever outgrows the capacity, instead of
    // failing the gate with a confusing undercount diff.
    QuerySpec("text_heavy_hitters_exact", (s, dir) => {
      val toks = documents(s, dir)
        .select(explode(TextAnalysis.wordTokens(col("text"))).as("token"))
      val guard = toks.agg(countDistinct(col("token")).as("__nd"))
      Guards.inPlanAssert(
          toks.agg(FrequentItems.freqItems(col("token"), 4096, 4096).as("hh")),
          guard, col("__nd") <= 4096,
          "text_heavy_hitters_exact: vocabulary exceeds the exact-regime " +
            "capacity (4096) — the MG sketch would decrement; raise the capacity " +
            "or use text_heavy_hitters (sketch regime)")
        .select(posexplode(col("hh")).as(Seq("rank0", "e")))
        .select((col("rank0") + 1).cast("long").as("rank"),
          col("e.item").as("token"), col("e.est_count").as("n"))
    },
      twin = Some("text_heavy_hitters"),
      // the MG aggregate's exact regime (capacity >= vocabulary): estimated
      // counts equal true counts, (count desc, token asc) rank order
      oracle = Some(
        """WITH t AS (
          |  SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
          |  FROM documents),
          |c AS (SELECT token, count(*)::BIGINT AS n FROM t GROUP BY token)
          |SELECT row_number() OVER (ORDER BY n DESC, token)::BIGINT AS rank, token, n
          |FROM c
          |ORDER BY rank""".stripMargin)),

    // Exact dedup stats per language (text + normalized-fingerprint keys).
    QuerySpec("dedup_exact", (s, dir) => {
      documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_unique_text"),
          countDistinct(TextAnalysis.md5Fingerprint(col("text"))).as("n_unique_fp"))
        .orderBy(col("lang"))
    },
      oracle = Some(
        """SELECT lang, count(*) AS n_docs,
          |       count(DISTINCT text) AS n_unique_text,
          |       count(DISTINCT md5(lower(trim(text)))) AS n_unique_fp
          |FROM documents
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)),

    // Exact dedup keeper set: lowest doc_id per content fingerprint.
    QuerySpec("dedup_fingerprint_keep", (s, dir) => {
      documents(s, dir)
        .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
          |FROM documents
          |GROUP BY md5(lower(trim(text)))
          |ORDER BY doc_id""".stripMargin)),

    // Keep-BEST dedup: the keeper of each duplicate cluster is the
    // highest-quality member, not the lowest id. The fixture has no
    // duplicates, so the query constructs the realistic pair (same page
    // crawled once clean, once SHOUTING): an uppercased copy under a
    // NEGATIVE id (-id-1: distinct even for doc 0) clusters with its
    // original on md5(lower(text)). The
    // copy's alpha_ratio is 0 ([a-z] only), so quality keeps the original
    // — while a min-id rule would keep the negative-id copy, proving the
    // rule is quality, not id. Ties (all-digit docs) fall to min id.
    QuerySpec("dedup_keep_best", (s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val all = docs.unionByName(
        docs.select((-col("doc_id") - 1).as("doc_id"), upper(col("text")).as("text")))
      Dedup.keepBestInCluster(TextAnalysis.withQuality(all, col("text")),
          md5(lower(col("text"))), col("doc_id"), col("alpha_ratio"))
        .select(col("doc_id"), col("alpha_ratio"), col("keep"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH all_docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT -doc_id - 1, upper(text) FROM documents),
          |q AS (SELECT doc_id, text,
          |        (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
          |           + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
          |          / 10000.0 AS alpha_ratio
          |      FROM all_docs),
          |r AS (SELECT doc_id, alpha_ratio,
          |             row_number() OVER (PARTITION BY md5(lower(text))
          |                                ORDER BY alpha_ratio DESC, doc_id) AS rn
          |      FROM q)
          |SELECT doc_id, alpha_ratio, rn = 1 AS keep FROM r
          |ORDER BY doc_id""".stripMargin)),

    // Exact 3-gram Jaccard near-dup pairs within length-bucket blocks
    // (near-dups have near-equal length; the bucket bounds the quadratic).
    QuerySpec("dedup_ngram_jaccard", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, n_chars // 100 AS len_bucket,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, n_chars, string_split_regex(text, ' +') AS toks
          |        FROM documents)
          |)
          |SELECT doc_a, doc_b, jaccard FROM (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
          |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(list_distinct(l.sh || r.sh)), 4) AS jaccard,
          |         len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(list_distinct(l.sh || r.sh)) AS raw_j
          |  FROM s l JOIN s r
          |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id)
          |WHERE raw_j >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Same semantics via PPJoin-style prefix filtering — the heavy-hitter-
    // safe scale path; shares the exact-Jaccard oracle above.
    QuerySpec("dedup_ngram_jaccard_prefix", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
          Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical oracle: prefix filtering must not change the result set
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, n_chars // 100 AS len_bucket,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, n_chars, string_split_regex(text, ' +') AS toks
          |        FROM documents)
          |)
          |SELECT doc_a, doc_b, jaccard FROM (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
          |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(list_distinct(l.sh || r.sh)), 4) AS jaccard,
          |         len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(list_distinct(l.sh || r.sh)) AS raw_j
          |  FROM s l JOIN s r
          |    ON l.len_bucket = r.len_bucket AND l.doc_id < r.doc_id)
          |WHERE raw_j >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Directional containment C(A→B) = |A∩B|/|A| — the asymmetric near-dup
    // shape (short doc pasted inside a long one) Jaccard structurally
    // misses. Blocked on lang, NOT len_bucket: cross-size pairs are the
    // whole point, so a size-derived blocking key would be wrong here.
    QuerySpec("dedup_containment", (s, dir) => {
      Dedup.containmentPairs(documents(s, dir), "doc_id", "text",
          Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // directional: l is the contained doc (denominator |A| = len(l.sh)),
      // r the container; lang blocking, no size blocking (cross-size pairs
      // are the point of containment). Docs under shingleSize tokens have
      // sh = [] and contribute no inverted-index rows on the Spark side —
      // the len(sh) > 0 guard mirrors that (and keeps the division total).
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, lang,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, lang, string_split_regex(text, ' +') AS toks
          |        FROM documents)
          |)
          |SELECT doc_a, doc_b, containment FROM (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
          |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(l.sh), 4) AS containment,
          |         len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(l.sh) AS raw_c
          |  FROM s l JOIN s r
          |    ON l.lang = r.lang AND l.doc_id <> r.doc_id
          |  WHERE len(l.sh) > 0)
          |WHERE raw_c >= 0.8
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // TF-IDF cosine near-dup pairs — the WEIGHTED measure: rare shared
    // terms count, ubiquitous ones don't (df = N terms have idf exactly 0
    // and drop from the index — a result-preserving prune). Blocked on
    // (lang, source), the same block-size-bounding choice as the Jaccard
    // family's len_bucket: the inverted self-join costs Σ df² WITHIN
    // blocks, and this synthetic corpus's ~30-word vocabulary makes every
    // term a heavy hitter (measured 50 s at sf0.1 lang-only — SCALE.md);
    // a natural Zipf corpus de-fangs that, and Bayardo 2007 prefix
    // pruning is the published unblocked path.
    QuerySpec("dedup_tfidf_cosine", (s, dir) => {
      Dedup.tfidfCosinePairs(documents(s, dir), "doc_id", "text",
          Seq(col("lang"), col("source")), threshold = 0.85)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // df < N mirrors the engine's exact idf-0 prune; round-4 on the final
      // cosine is the accepted summation-noise class (nearest corpus value
      // sits 3e-5 from the threshold, measured)
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, lang, source,
          |         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, lang, source, term, count(*)::BIGINT AS c
          |       FROM t GROUP BY 1, 2, 3, 4),
          |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
          |w AS (
          |  SELECT tf.doc_id, tf.lang, tf.source, tf.term,
          |         tf.c * ln(n.n / dfreq.df) AS w
          |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
          |  WHERE dfreq.df < n.n),
          |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
          |dots AS (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, sum(l.w * r.w) AS dot
          |  FROM w l JOIN w r
          |    ON l.term = r.term AND l.lang = r.lang AND l.source = r.source
          |       AND l.doc_id < r.doc_id
          |  GROUP BY 1, 2)
          |SELECT doc_a, doc_b, round(c, 4) AS cos FROM (
          |  SELECT doc_a, doc_b, dot / (na.nrm * nb.nrm) AS c
          |  FROM dots JOIN nrm na ON doc_a = na.doc_id
          |            JOIN nrm nb ON doc_b = nb.doc_id)
          |WHERE c >= 0.85
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Same semantics via l2-prefix index pruning (Bayardo 2007 framework,
    // L2AP/WWW'14 Cauchy–Schwarz prefix bound) — the unblocked path a
    // natural-Zipf crawl needs (measured sub-linear on the ZipfData
    // fixture, SCALE.md); shares the exact oracle: pruning must not
    // change the result set.
    QuerySpec("dedup_tfidf_cosine_prefix", (s, dir) => {
      Dedup.tfidfCosinePairsPrefix(documents(s, dir), "doc_id", "text",
          Seq(col("lang"), col("source")), threshold = 0.85)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      note = Some(
        "l2-prefix (L2AP) index pruning: right plan for NATURAL-ZIPF vocabularies " +
          "(sub-linear on the ZipfData fixture where the plain index OOMs at x10). On THIS " +
          "dense synthetic corpus every pair shares indexed terms, so the prune pays window+" +
          "verify overhead for nothing (5.0x at x10 vs blocked plain's 2.3x) — corpus shape " +
          "picks the operator; dedup_tfidf_cosine (blocked) is the dense-corpus form."),
      // identical oracle to dedup_tfidf_cosine: l2-prefix pruning is exact
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, lang, source,
          |         unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, lang, source, term, count(*)::BIGINT AS c
          |       FROM t GROUP BY 1, 2, 3, 4),
          |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
          |w AS (
          |  SELECT tf.doc_id, tf.lang, tf.source, tf.term,
          |         tf.c * ln(n.n / dfreq.df) AS w
          |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
          |  WHERE dfreq.df < n.n),
          |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
          |dots AS (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, sum(l.w * r.w) AS dot
          |  FROM w l JOIN w r
          |    ON l.term = r.term AND l.lang = r.lang AND l.source = r.source
          |       AND l.doc_id < r.doc_id
          |  GROUP BY 1, 2)
          |SELECT doc_a, doc_b, round(c, 4) AS cos FROM (
          |  SELECT doc_a, doc_b, dot / (na.nrm * nb.nrm) AS c
          |  FROM dots JOIN nrm na ON doc_a = na.doc_id
          |            JOIN nrm nb ON doc_b = nb.doc_id)
          |WHERE c >= 0.85
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Same semantics via asymmetric (SSJoin-style) prefix filtering — probe
    // side prefixed, container side fully indexed; shares the exact oracle.
    QuerySpec("dedup_containment_prefix", (s, dir) => {
      Dedup.containmentPairsPrefix(documents(s, dir), "doc_id", "text",
          Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // identical oracle: prefix filtering must not change the result set
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, lang,
          |         list_distinct([array_to_string(toks[i:i+2], ' ')
          |                        for i in range(1, len(toks) - 1)]) AS sh
          |  FROM (SELECT doc_id, lang, string_split_regex(text, ' +') AS toks
          |        FROM documents)
          |)
          |SELECT doc_a, doc_b, containment FROM (
          |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
          |         round(len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(l.sh), 4) AS containment,
          |         len(list_intersect(l.sh, r.sh))::DOUBLE
          |               / len(l.sh) AS raw_c
          |  FROM s l JOIN s r
          |    ON l.lang = r.lang AND l.doc_id <> r.doc_id
          |  WHERE len(l.sh) > 0)
          |WHERE raw_c >= 0.8
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Near-dup clusters over the exact-Jaccard pairs: connected components
    // (iterative min-label propagation) + keep-one-per-cluster selection —
    // the dedup decision a training pipeline actually applies. Oracle:
    // DuckDB recursive-CTE transitive closure over the same pairs.
    QuerySpec("dedup_clusters", (s, dir) => {
      val docs = documents(s, dir)
        .withColumn("len_bucket", floor(col("n_chars") / 100))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        Seq(col("len_bucket")), shingleSize = 3, threshold = 0.5)
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
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
          |)
          |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
          |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          |  FROM reach GROUP BY u)
          |ORDER BY doc_id""".stripMargin)),

    // The same clusters-and-keep-one decision fed by MinHash+LSH candidate
    // pairs instead of the blocked exact-Jaccard index — the composition a
    // web-scale corpus actually runs. md5-KM hash family (see the
    // dedup_minhash oracle) so DuckDB recomputes the exact band
    // buckets → full hash-checked oracle, not rows-only; ScalaTest
    // additionally proves set-equality with the exact-pair clustering at
    // J >= 0.5 on unblocked fixtures.
    QuerySpec("dedup_minhash_clusters", (s, dir) => {
      val pairs = Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5,
        md5Family = true)
      Dedup.dupClusters(pairs, "doc_a", "doc_b")
        .orderBy(col("doc_id"))
    },
      // same md5-family LSH pairs, then the dedup_clusters transitive
      // closure + keep-one selection over them
      oracle = Some(
        """WITH RECURSIVE sf AS (
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
          |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          |  FROM bk l JOIN bk r
          |    ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
          |),
          |pairs AS (
          |  SELECT doc_a, doc_b
          |  FROM cand
          |  JOIN sf a ON a.doc_id = cand.doc_a
          |  JOIN sf b ON b.doc_id = cand.doc_b
          |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          |          / len(list_distinct(a.sh || b.sh)) >= 0.5
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
          |)
          |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
          |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
          |  FROM reach GROUP BY u)
          |ORDER BY doc_id""".stripMargin)),

    // MinHash+LSH near-dup on the DuckDB-recomputable md5 hash family
    // (32 hashes, 16 bands of 2): the oracle rebuilds the identical
    // signatures/band buckets in SQL, making LSH candidate generation
    // itself hash-checked — same upgrade pattern as similarity_ivf_full_topk.
    QuerySpec("dedup_minhash", (s, dir) => {
      Dedup.minhashPairs(documents(s, dir), "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5, md5Family = true)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      note = Some(
        "band buckets carry (doc_id, band, bucket) only; candidate pairs dedup on ids, " +
          "sorted-hash shingle sets re-attach by id for the exact-Jaccard verify " +
          "(codegen'd intersect on LONG arrays, not string shingles)."),
      // md5 MinHash family (Dedup.minhashSigTable md5 branch): one md5 per
      // shingle split into integers a = int(hex[1..15]), b = int(hex[17..30]);
      // permutation i's value is a + i·b (exact in BIGINT, no mod); signature
      // entry = min over the shingle set; band bucket = '|'-joined decimal
      // pair — recomputed here verbatim, so LSH candidate generation itself
      // is hash-checked, then verified with the exact set Jaccard.
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
          |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          |  FROM bk l JOIN bk r
          |    ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
          |),
          |ver AS (
          |  SELECT doc_a, doc_b,
          |         len(list_intersect(a.sh, b.sh))::DOUBLE
          |           / len(list_distinct(a.sh || b.sh)) AS raw_j
          |  FROM cand
          |  JOIN sf a ON a.doc_id = cand.doc_a
          |  JOIN sf b ON b.doc_id = cand.doc_b
          |)
          |SELECT doc_a, doc_b, round(raw_j, 4) AS jaccard
          |FROM ver WHERE raw_j >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // SimHash near-dup candidates at Hamming ≤ 3 on the md5 family (60-bit
    // fingerprint, 4 blocks of 15): DuckDB recomputes fingerprints, block
    // buckets, and Hamming distances bit-for-bit → full oracle.
    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simhashPairsMd5(documents(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // md5 SimHash family (Dedup.simhash60Md5): per-shingle 60-bit hash =
      // first 15 md5 hex chars as an integer; bit j of the fingerprint set
      // iff the ±1 votes over the shingle set sum >= 0; candidates share one
      // of 4 intact 15-bit blocks (pigeonhole at Hamming <= 3), then exact
      // Hamming verification — every step recomputed here bit-for-bit.
      oracle = Some(
        """WITH sf AS (
          |  SELECT doc_id, sh FROM (
          |    SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
          |                                  for i in range(1, len(toks) - 1)]) AS sh
          |    FROM (SELECT doc_id, string_split_regex(text, ' +') AS toks
          |          FROM documents))
          |  WHERE len(sh) > 0
          |),
          |hv AS (
          |  SELECT doc_id, ('0x' || substr(md5(e), 1, 15))::BIGINT AS h
          |  FROM (SELECT doc_id, unnest(sh) AS e FROM sf)
          |),
          |bits AS (
          |  SELECT doc_id, j,
          |         CASE WHEN sum(((h >> j) & 1) * 2 - 1) >= 0
          |              THEN (1::BIGINT << j) ELSE 0 END AS bv
          |  FROM hv, range(0, 60) t(j)
          |  GROUP BY doc_id, j
          |),
          |fp AS (SELECT doc_id, sum(bv)::BIGINT AS sh60 FROM bits GROUP BY doc_id),
          |blk AS (
          |  SELECT doc_id, sh60, b, (sh60 >> (b * 15)) & 32767 AS v
          |  FROM fp, range(0, 4) t(b)
          |)
          |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
          |       bit_count(xor(l.sh60, r.sh60))::INTEGER AS hamming
          |FROM blk l JOIN blk r
          |  ON l.b = r.b AND l.v = r.v AND l.doc_id < r.doc_id
          |WHERE bit_count(xor(l.sh60, r.sh60)) <= 3
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Consistent (hash-ordered) stratified sampling: the same 10 docs per
    // language are chosen on every engine/run — the reproducible-sampling
    // primitive for training-data pipelines (md5 is the cross-engine
    // deterministic order; per-stratum rank shards by lang).
    QuerySpec("sample_consistent", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      documents(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },
      oracle = Some(
        """SELECT lang, rk, doc_id
          |FROM (SELECT lang, doc_id,
          |             row_number() OVER (PARTITION BY lang
          |                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
          |      FROM documents)
          |WHERE rk <= 10
          |ORDER BY lang, rk""".stripMargin)),

    // Per-language token statistics.
    QuerySpec("text_stats", (s, dir) => {
      val d = documents(s, dir)
      d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(size(TextAnalysis.wsTokens(col("text")))), 4).as("avg_ws_tokens"),
          round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_word_tokens"))
        .orderBy(col("lang"))
    },
      oracle = Some(
        """SELECT lang, count(*) AS n_docs,
          |       round(avg(n_chars), 2) AS avg_chars,
          |       round(avg(len(string_split_regex(text, ' +'))), 4) AS avg_ws_tokens,
          |       round(avg(len(regexp_extract_all(text, '[a-z0-9]+'))), 4) AS avg_word_tokens
          |FROM documents
          |GROUP BY lang
          |ORDER BY lang""".stripMargin)),

    // Model-based quality filter (the GPT-3 §A.2 / CCNet classifier
    // step): a hashed-BOW logistic classifier trained (spark.ml L-BFGS —
    // one treeAggregate per iteration, distributed) to tell the corpus'
    // real text from a synthetic-noise negative class, then applied as a
    // NATIVE scan — weights ride one broadcast row, the logit is a
    // codegen'd aggregate over hash() buckets, no UDF near the corpus.
    // (No SQL oracle: learned model. Native ≡ trained arithmetic,
    // held-out separation, and the filter composition are ScalaTest-
    // asserted; the model artifact is bounded — 2^15 doubles.) Training
    // runs at QUERY-CONSTRUCTION time — the weights compile into the
    // plan, exactly the PqCodes pattern, so even a plan-only consumer
    // (graft.Explain) pays the ~2 s fit; a production loop trains
    // offline and freezes the artifact.
    QuerySpec("text_quality_model", (s, dir) => {
      val clean = documents(s, dir).select(col("doc_id"), col("text"))
      val noise = clean.select((col("doc_id") + 1000000L).as("doc_id"),
        QualityModel.syntheticNoise(col("text")).as("text"))
      val model = QualityModel.trainQualityClassifier(
        clean.filter(col("doc_id") % 4 === 0),
        noise.filter(col("doc_id") % 4 === 0),
        "text", numFeatures = 1 << 15, maxIter = 5)
      QualityModel.scoreQuality(clean.unionByName(noise), "text", model)
        .select(col("doc_id"), col("quality_prob"))
        .orderBy(col("doc_id"))
    },
      note = Some(
        "training (spark.ml L-BFGS) runs at query-construction time and compiles the weights " +
          "into the plan — the PqCodes in-plan-artifact pattern. A production loop trains " +
          "offline and freezes the artifact; the scoring scan itself is broadcast-weights + " +
          "codegen'd aggregate, no UDF.")),

    // Per-document quality scores.
    QuerySpec("text_quality", (s, dir) => {
      TextAnalysis.withQuality(documents(s, dir), col("text"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          // already exact 4-decimal via ratio4 — no re-round
          col("mean_token_len"),
          col("alpha_ratio"),
          col("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """SELECT doc_id,
          |       len(toks) AS n_tokens,
          |       (20000 * coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
          |          + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |         / 10000.0 AS mean_token_len,
          |       (20000 * length(regexp_replace(text, '[^a-z]', '', 'g'))
          |          + greatest(length(text), 1)) // (2 * greatest(length(text), 1))
          |         / 10000.0 AS alpha_ratio,
          |       (20000 * len(list_filter(toks,
          |                 t -> t IN ('the','a','and','of','to','in','is','it')))
          |          + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1))
          |         / 10000.0 AS stopword_ratio
          |FROM (SELECT doc_id, text, string_split_regex(text, ' +') AS toks FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic (marker hit-rate argmax; deterministic — the
    // struct-max tie-break is the same field-order comparison on both
    // engines, so this is fully oracle-checked).
    QuerySpec("text_langid", (s, dir) => {
      documents(s, dir)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      // generated from TextAnalysis.LangMarkers — one source of truth for
      // both engines (widening the language table cannot desynchronize them)
      oracle = Some {
        val entries = graft.operators.TextAnalysis.LangMarkers.toSeq.sortBy(_._1)
          .map { case (lang, ms) =>
            val in = ms.map(m => s"'${m.replace("'", "''")}'").mkString(",")
            s"{'score': len(list_filter(toks, x -> x IN ($in))), 'lang': '$lang'}"
          }
          .mkString(",\n               ")
        s"""WITH d AS (SELECT doc_id, lang, string_split_regex(text, ' +') AS toks FROM documents),
           |p AS (SELECT lang,
           |             (list_max([
           |               $entries
           |             ])).lang AS lang_pred
           |      FROM d)
           |SELECT lang, lang_pred, count(*)::BIGINT AS n_docs
           |FROM p GROUP BY lang, lang_pred
           |ORDER BY lang, lang_pred""".stripMargin
      }),

    // Brute-force cosine top-5 for query vectors (vec_id < 5).
    QuerySpec("similarity_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    },
      oracle = Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          |           FROM embeddings WHERE vec_id < 5),
          |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
          |     scored AS (
          |       SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS s
          |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
          |     ranked AS (
          |       SELECT query_id, neighbor_id, s,
          |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |       FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // LSH-bucketed ANN top-5, oracle-tier.
    QuerySpec("similarity_lsh_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // md5 table-plane family (Similarity.md5TablePlanes): DuckDB rebuilds
      // all 4×6 planes, sign buckets, and the 1-bit multiprobe set in SQL →
      // full hash-checked oracle (was rows-only); recall vs brute force
      // stays asserted in ScalaTest
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5,
          md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      // md5 table-plane LSH (Similarity.md5TablePlanes, "t:p,d" keys): 4
      // tables × 6 planes rebuilt verbatim; per (vec, table) the sign bucket;
      // queries probe their bucket plus every 1-bit flip; candidates union
      // across tables, then the same exact-cosine top-5 rank as
      // similarity_topk.
      oracle = Some(
        """WITH planes AS (
          |  SELECT t, p, list(v ORDER BY d) AS plane
          |  FROM (SELECT t, p, d,
          |               (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
          |                  % 2001 - 1000)::DOUBLE AS v
          |        FROM range(0, 4) tt(t), range(0, 6) pp(p), range(0, 64) dd(d))
          |  GROUP BY t, p
          |),
          |sig AS (
          |  SELECT e.vec_id, pl.t,
          |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
          |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
          |  FROM embeddings e, planes pl
          |  GROUP BY e.vec_id, pl.t
          |),
          |flips AS (
          |  SELECT 0::BIGINT AS flip
          |  UNION ALL
          |  SELECT (1::BIGINT << j) AS flip FROM range(0, 6) jj(j)
          |),
          |cand AS (
          |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          |  FROM (SELECT * FROM sig WHERE vec_id < 5) q
          |  JOIN flips f ON true
          |  JOIN sig c ON c.t = q.t AND c.bucket = xor(q.bucket, f.flip)
          |  WHERE c.vec_id <> q.vec_id
          |),
          |scored AS (
          |  SELECT cand.query_id, cand.neighbor_id,
          |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
          |  FROM cand
          |  JOIN embeddings a ON a.vec_id = cand.query_id
          |  JOIN embeddings b ON b.vec_id = cand.neighbor_id
          |),
          |ranked AS (
          |  SELECT query_id, neighbor_id, s,
          |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // IVF ANN top-5: per-label centroid codebook, 3 probed cells per query
    // (no SQL oracle; recall vs brute force asserted in ScalaTest).
    QuerySpec("similarity_ivf_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // cells from the SAMPLED Lloyd trainer (driver-side over the 1024
      // md5-deterministic vectors; assignment is one codegen projection) —
      // labels are uncorrelated with cosine geometry, trained cells are
      // the real IVF shape, and the sampled path is the 100 TB one
      val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
        nlist = 16, iters = 2, trainSample = 1024)
      Similarity.ivfTopK(emb.join(cells, "vec_id"), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "cell", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF at FULL probe (nprobe = nlist): provably ≡ brute force — every
    // cell is probed, so every vector is exact-cosine scored and the cell
    // layer prunes nothing. That identity holds for ANY partition function
    // (k-means quality only matters when pruning), so the cells here are a
    // free hash split and the whole query is oracle-checked against the
    // same DuckDB SQL as similarity_topk — a hard correctness gate on the
    // ivfTopK probe/score/rank machinery itself.
    QuerySpec("similarity_ivf_full_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      val assigned = emb.withColumn("cell", pmod(col("vec_id"), lit(8)).cast("long"))
      Similarity.ivfTopK(assigned, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", "cell", 5, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // full probe ≡ brute force (see the queries entry) — the oracle is the
      // same exact-cosine top-5 SQL as similarity_topk
      oracle = Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          |           FROM embeddings WHERE vec_id < 5),
          |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
          |     scored AS (
          |       SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS s
          |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
          |     ranked AS (
          |       SELECT query_id, neighbor_id, s,
          |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |       FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // PQ/ADC ANN top-5: the corpus compressed to m byte codes per vector,
    // queries scored through per-query lookup tables — the memory-bounded
    // scale path where even the float vectors are too big to scan (no SQL
    // oracle: k-means-dependent; recall vs brute force in ScalaTest).
    QuerySpec("similarity_pq_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // m=16/ksub=32 (finer than the m=8 default): the fixture vectors are
      // near-random, so quantization noise needs the extra resolution for
      // the recall the spec pins; real embedding corpora cluster and do
      // fine at m=8/ksub=16
      // trainSample: the Lloyd loop sees a deterministic 1024-vector
      // sample (production-quantizer practice — the codebook needs a
      // representative sample, not the corpus); ENCODING still covers
      // every vector
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 5, m = 16, ksub = 32, trainSample = 1024)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_pq_topk_exact")),

    // PQ in the EXACT regime: corpus bounded to 200 vectors, ksub = 256 ≥
    // corpus size, trainSample covers the whole corpus, iters = 0 — the
    // driver Lloyd's init seeds every sampled sub-vector as its own
    // centroid verbatim, so encoding is lossless (each sub-vector's code
    // points at an exact copy of itself), the per-query LUT holds exact
    // dot(q_sub, x_sub), and ADC ≡ the exact cosine of the unit vectors.
    // Shares similarity_topk's DuckDB SQL restricted to the same corpus —
    // a hard hash gate on the PQ encode / LUT / ADC kernels themselves
    // (same exact-regime upgrade as similarity_ivf_full_topk /
    // dedup_semantic_exact). Oracle-duty: the bounded corpus is the
    // point; the scale path is similarity_pq_topk above.
    QuerySpec("similarity_pq_topk_exact", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 200), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 5, m = 16, ksub = 256, iters = 0,
          trainSample = 256)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_pq_topk"),
      // PQ exact regime (ksub ≥ corpus, lossless encode, ADC ≡ exact dot) —
      // similarity_topk's SQL with the corpus bounded to the same 200 vectors
      oracle = Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          |           FROM embeddings WHERE vec_id < 5),
          |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          |           FROM embeddings WHERE vec_id < 200),
          |     scored AS (
          |       SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS s
          |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
          |     ranked AS (
          |       SELECT query_id, neighbor_id, s,
          |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |       FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ composed ANN: trained coarse cells prune WHICH vectors are
    // scored, PQ byte codes + per-query LUTs compress WHAT is scanned —
    // the compressed inverted file a production vector store deploys (no
    // SQL oracle: k-means-dependent; ≡ PQ at full probe + recall floor
    // asserted in ScalaTest).
    QuerySpec("similarity_ivfpq_topk", (s, dir) => {
      val emb = embeddings(s, dir)
      // iters=1: both codebooks converge in one Lloyd round on the fixture
      // (deterministic seeds); the spec's full-probe ≡ PQ identity and
      // recall floor run with the production default
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 5, nlist = 8, nprobe = 3, m = 16, ksub = 32, iters = 1,
          trainSample = 1024)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_ivfpq_topk_exact")),

    // IVF-PQ in the EXACT regime — the COMPOSED path's hash gate: full
    // probe (nprobe = nlist) makes the IVF layer prune nothing, and the
    // PQ exact regime (corpus ≤ ksub, trainSample covers it, iters = 0 —
    // see similarity_pq_topk_exact) makes ADC the exact cosine, so cell
    // routing + per-cell code scan + LUT scoring must reproduce brute
    // force bit-for-bit after rounding. Shares the PQ exact twin's DuckDB
    // SQL (eighth exact-regime oracle conversion). Oracle-duty: the
    // bounded corpus is the point; the scale path is similarity_ivfpq_topk.
    QuerySpec("similarity_ivfpq_topk_exact", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 200), emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, k = 5, nlist = 4, nprobe = 4, m = 16,
          ksub = 256, iters = 0, trainSample = 256)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_ivfpq_topk"),
      // IVF-PQ exact regime (full probe + lossless PQ) — same bounded-corpus
      // brute-force SQL as similarity_pq_topk_exact
      oracle = Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          |           FROM embeddings WHERE vec_id < 5),
          |     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          |           FROM embeddings WHERE vec_id < 200),
          |     scored AS (
          |       SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS s
          |       FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
          |     ranked AS (
          |       SELECT query_id, neighbor_id, s,
          |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |       FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)),

    // k-NN JOIN: every vector against the whole corpus (not just 5 query
    // rows) — the semdedup / kNN-graph shape. Exact brute force is the
    // oracle tier; it broadcasts the query side, so corpus-as-queries only
    // works while the id+vec table fits an executor (~2.5 MB here). The
    // scale path is the LSH variant below.
    QuerySpec("similarity_knn_join", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
        .orderBy(col("query_id"), col("rank"))
    },
      note = Some(
        "ORACLE SHAPE: exact corpus-as-queries broadcast join, kept as the correctness " +
          "reference while the id+vec table fits an executor. Scale paths: " +
          "similarity_knn_join_lsh ((table, bucket) shuffle join, nothing broadcast) or " +
          "IndexStore.searchIvfPq over persisted artifacts (cell-pruned ADC scan)."),
      // the exact k-NN JOIN is brute force with corpus-as-queries — fully
      // SQL-expressible, so it graduates from rows+spec to a hard oracle
      oracle = Some(
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          |     scored AS (
          |       SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |              list_cosine_similarity(a.vec, b.vec) AS s
          |       FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
          |     ranked AS (
          |       SELECT query_id, neighbor_id, s,
          |              row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |       FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 3
          |ORDER BY query_id, rank""".stripMargin)),

    // LSH-bucketed k-NN join — both sides shuffle-partition on (table,
    // bucket), nothing is broadcast, so corpus×corpus scales horizontally.
    // md5 table-plane family → full hash-checked oracle (same pattern as
    // similarity_lsh_topk); recall vs the exact join stays asserted in
    // ScalaTest.
    QuerySpec("similarity_knn_join_lsh", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_knn_join_lsh_scale"),
      note = Some(
        "both sides keyed on (table, bucket), nothing broadcast; pairs score BEFORE the " +
          "dedup so the dedup exchange carries (query, neighbor, sim) scalars, not vectors."),
      // same md5 table-plane LSH as similarity_lsh_topk, corpus-as-queries
      // (every vector probes its buckets + 1-bit flips), exact-cosine top-3
      oracle = Some(
        """WITH planes AS (
          |  SELECT t, p, list(v ORDER BY d) AS plane
          |  FROM (SELECT t, p, d,
          |               (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
          |                  % 2001 - 1000)::DOUBLE AS v
          |        FROM range(0, 4) tt(t), range(0, 6) pp(p), range(0, 64) dd(d))
          |  GROUP BY t, p
          |),
          |sig AS (
          |  SELECT e.vec_id, pl.t,
          |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
          |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
          |  FROM embeddings e, planes pl
          |  GROUP BY e.vec_id, pl.t
          |),
          |flips AS (
          |  SELECT 0::BIGINT AS flip
          |  UNION ALL
          |  SELECT (1::BIGINT << j) AS flip FROM range(0, 6) jj(j)
          |),
          |cand AS (
          |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          |  FROM sig q
          |  JOIN flips f ON true
          |  JOIN sig c ON c.t = q.t AND c.bucket = xor(q.bucket, f.flip)
          |  WHERE c.vec_id <> q.vec_id
          |),
          |scored AS (
          |  SELECT cand.query_id, cand.neighbor_id,
          |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
          |  FROM cand
          |  JOIN embeddings a ON a.vec_id = cand.query_id
          |  JOIN embeddings b ON b.vec_id = cand.neighbor_id
          |),
          |ranked AS (
          |  SELECT query_id, neighbor_id, s,
          |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 3
          |ORDER BY query_id, rank""".stripMargin)),

    // The scale path of the kNN join: numPlanes = 0 → AUTO-sized from the
    // corpus count so bucket occupancy stays ≈ 32 (Similarity.autoPlanes).
    // The fixed-plane twin above measured 14.8× time at 10× data on the r14
    // scale curve (fixed 2^6-bucket space → occupancy ∝ n → candidate pairs
    // ∝ n²); this one pins occupancy and stays linear. At the oracle gate
    // scales auto resolves to the same 6 planes (2,000 vectors / 32 = 63
    // buckets), so the DuckDB replay — which recomputes the same
    // integer-exact plane-count formula from count(*) — hash-checks the
    // full auto path end to end.
    QuerySpec("similarity_knn_join_lsh_scale", (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", 3, numPlanes = 0, md5Family = true)
        .orderBy(col("query_id"), col("rank"))
    },
      twin = Some("similarity_knn_join_lsh"),
      // the AUTO-plane twin: nplanes is recomputed from count(*) with the
      // same integer-exact formula as Similarity.autoPlanes (smallest b >= 6
      // with 2^b * 32 >= n, via binary-string length — never float log2,
      // whose libm rounding could disagree across engines on exact powers of
      // two). At this gate's scales it resolves to 6, so the result set
      // equals similarity_knn_join_lsh — the point is that DuckDB replays
      // the SIZING itself, not just the fixed-parameter LSH.
      oracle = Some(
        """WITH params AS (
          |  SELECT greatest(6, length(bin((count(*) + 31) // 32 - 1))) AS nplanes
          |  FROM embeddings
          |),
          |planes AS (
          |  SELECT t, p, list(v ORDER BY d) AS plane
          |  FROM (SELECT t, p, d,
          |               (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
          |                  % 2001 - 1000)::DOUBLE AS v
          |        FROM range(0, 4) tt(t), range(0, 48) pp(p), range(0, 64) dd(d)
          |        WHERE p < (SELECT nplanes FROM params))
          |  GROUP BY t, p
          |),
          |sig AS (
          |  SELECT e.vec_id, pl.t,
          |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
          |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
          |  FROM embeddings e, planes pl
          |  GROUP BY e.vec_id, pl.t
          |),
          |flips AS (
          |  SELECT 0::BIGINT AS flip
          |  UNION ALL
          |  SELECT (1::BIGINT << j) AS flip FROM range(0, 48) jj(j)
          |  WHERE j < (SELECT nplanes FROM params)
          |),
          |cand AS (
          |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          |  FROM sig q
          |  JOIN flips f ON true
          |  JOIN sig c ON c.t = q.t AND c.bucket = xor(q.bucket, f.flip)
          |  WHERE c.vec_id <> q.vec_id
          |),
          |scored AS (
          |  SELECT cand.query_id, cand.neighbor_id,
          |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS s
          |  FROM cand
          |  JOIN embeddings a ON a.vec_id = cand.query_id
          |  JOIN embeddings b ON b.vec_id = cand.neighbor_id
          |),
          |ranked AS (
          |  SELECT query_id, neighbor_id, s,
          |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(s, 4) AS cos_sim, rank
          |FROM ranked WHERE rank <= 3
          |ORDER BY query_id, rank""".stripMargin)),

    // The rewrite half of substring dedup (Lee et al. 2021 CUT the
    // duplicated spans): tokens covered by an earlier-owned 8-token run
    // are removed and the document rebuilt — dedup_exact_substr is the
    // audit view, this is the cleaned corpus.
    QuerySpec("dedup_substr_rewrite", (s, dir) => {
      Dedup.removeSharedSpans(documents(s, dir), "doc_id", "text", k = 8)
        .orderBy(col("doc_id"))
    },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split_regex(text, ' +') AS toks FROM documents),
          |g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
          |      FROM t, unnest(range(1, len(toks) - 6)) u(i)),
          |o AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
          |cov AS (SELECT DISTINCT g.doc_id, v.p AS pos
          |        FROM g JOIN o USING (gram), unnest(range(g.pos, g.pos + 8)) v(p)
          |        WHERE g.doc_id > o.first_doc),
          |tok AS (SELECT doc_id, i AS pos, toks[i] AS tok
          |        FROM t, unnest(range(1, len(toks) + 1)) u(i)),
          |kept AS (SELECT tok.doc_id, count(*) AS n,
          |                string_agg(tok.tok, ' ' ORDER BY tok.pos) AS txt
          |         FROM tok LEFT JOIN cov
          |           ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
          |         WHERE cov.pos IS NULL
          |         GROUP BY tok.doc_id)
          |SELECT t.doc_id,
          |       len(t.toks)::BIGINT AS n_tokens,
          |       (len(t.toks) - coalesce(kept.n, 0))::BIGINT AS n_removed_tokens,
          |       coalesce(kept.txt, '') AS text_clean
          |FROM t LEFT JOIN kept USING (doc_id)
          |ORDER BY t.doc_id""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): k-means cells, in-cell cosine near-dup
    // groups, keep-one-per-group — the semantic dedup pass that catches
    // paraphrases text fingerprints miss (no SQL oracle: k-means-dependent;
    // totality, keeper invariants, in-cell recall = 1, and determinism
    // asserted in ScalaTest).
    // nlist <= 0 = AUTO cell sizing (Similarity.autoCells): cells ∝ corpus
    // size at ~250 expected occupancy, keeping in-cell pair cost linear —
    // resolves to 8 cells at the sf0.1 bench corpus (2000 vectors), the
    // same constant the fixed form ran through r14.
    QuerySpec("dedup_semantic", (s, dir) => {
      Dedup.semanticDedup(embeddings(s, dir), "vec_id", "embedding",
          nlist = -1, threshold = 0.3)
        .orderBy(col("vec_id"))
    },
      twin = Some("dedup_semantic_exact")),

    // SemDeDup's EXACT regime: nlist = 1 puts every vector in one cell, so
    // the in-cell pair stage IS global all-pairs cosine and the whole
    // pipeline (assignment, pair join, connected components, keep-one)
    // becomes DuckDB-expressible — the same full-probe trick as
    // similarity_ivf_full_topk / select_cluster_balanced_exact. The
    // k-means-dependent auto-cells form above stays the scale path;
    // this entry hash-gates the machinery end to end. ORACLE-DUTY
    // QUADRATIC (86 s at x10 vs the auto-cells twin's 2.3x ratio,
    // SCALE.md) — same class as embedding_neardup, never the scale form.
    QuerySpec("dedup_semantic_exact", (s, dir) => {
      Dedup.semanticDedup(embeddings(s, dir), "vec_id", "embedding",
          nlist = 1, threshold = 0.3)
        .orderBy(col("vec_id"))
    },
      twin = Some("dedup_semantic"),
      note = Some(
        "ORACLE SHAPE: nlist=1 puts the whole corpus in one k-means cell, so the in-cell " +
          "pair stage is deliberate global all-pairs cosine (86 s at x10, SCALE.md) — kept " +
          "because it makes the full SemDeDup pipeline DuckDB-checkable. " +
          "Scale path: dedup_semantic (auto-sized cells, occupancy-pinned, 2.3x at x10)."),
      // nlist = 1 ⇒ one cell (cell 0), pairs = global all-pairs cosine,
      // clusters = recursive-CTE closure, keeper = min id; vectors with no
      // pair keep themselves (the operator's left-join + coalesce)
      oracle = Some(
        """WITH RECURSIVE pairs AS (
          |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
          |),
          |edges AS (
          |  SELECT vec_a AS u, vec_b AS v FROM pairs
          |  UNION
          |  SELECT vec_b AS u, vec_a AS v FROM pairs
          |),
          |reach AS (
          |  SELECT u, v FROM edges
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
          |  WHERE e.v <> r.u
          |),
          |clusters AS (
          |  SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id
          |  FROM reach GROUP BY u
          |)
          |SELECT e.vec_id AS vec_id, 0 AS cell,
          |       coalesce(c.cluster_id, e.vec_id) AS cluster_id,
          |       coalesce(e.vec_id = c.cluster_id, TRUE) AS keep
          |FROM embeddings e LEFT JOIN clusters c ON e.vec_id = c.vec_id
          |ORDER BY e.vec_id""".stripMargin)),

    // Exact embedding near-dup pairs (cosine ≥ 0.3).
    QuerySpec("embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDupExact(embeddings(s, dir), "vec_id", "embedding", 0.3)
        .orderBy(col("vec_a"), col("vec_b"))
    },
      note = Some(
        "ORACLE SHAPE: deliberate O(n^2) cross join, kept as the correctness reference. " +
          "Scale path: embedding_neardup_lsh (hyperplane bucket join)."),
      oracle = Some(
        """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
          |ORDER BY vec_a, vec_b""".stripMargin)),

    // LSH-bucketed embedding near-dup — the scale path for the exact query
    // above. md5-derived integer hyperplanes (Similarity.md5Planes) let
    // DuckDB rebuild the planes and sign buckets verbatim → full
    // hash-checked oracle (sign margins data-measured at ~0.07, eleven
    // orders above double noise); single-table recall vs the exact pairs
    // stays asserted in ScalaTest.
    QuerySpec("embedding_neardup_lsh", (s, dir) => {
      Dedup.embeddingNearDupLSH(embeddings(s, dir), "vec_id", "embedding", 0.3,
          Similarity.md5Planes(4, 64))
        .orderBy(col("vec_a"), col("vec_b"))
    },
      // md5 hyperplane family (Similarity.md5Planes): plane[p][d] =
      // int(md5hex(p||','||d)[1..15]) % 2001 - 1000; bucket bit p = sign of
      // dot(embedding, plane p); candidates share the full 4-bit bucket,
      // then exact cosine verification — planes, signs, and buckets all
      // recomputed here verbatim.
      oracle = Some(
        """WITH planes AS (
          |  SELECT p, list(v ORDER BY d) AS plane
          |  FROM (SELECT p, d,
          |               (('0x' || substr(md5(p::VARCHAR || ',' || d::VARCHAR), 1, 15))::BIGINT
          |                  % 2001 - 1000)::DOUBLE AS v
          |        FROM range(0, 4) t(p), range(0, 64) u(d))
          |  GROUP BY p
          |),
          |sig AS (
          |  SELECT e.vec_id,
          |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
          |                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
          |  FROM embeddings e, planes pl
          |  GROUP BY e.vec_id
          |)
          |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
          |FROM sig sa
          |JOIN sig sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
          |JOIN embeddings a ON a.vec_id = sa.vec_id
          |JOIN embeddings b ON b.vec_id = sb.vec_id
          |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
          |ORDER BY vec_a, vec_b""".stripMargin)),

    // Int8 scalar quantization (SQ8): per-vector symmetric codes — the
    // 4-8× embedding storage/shuffle cut. Pure per-row expressions, no
    // shuffle; codes emitted as a joined string (array printing is not
    // engine-portable), scale at 6 dp. The oracle mirrors Spark's
    // HALF_UP-away-from-zero round as a sign-split floor(|x|/s + 0.5).
    QuerySpec("embedding_quantize", (s, dir) => {
      embeddings(s, dir)
        .select(col("vec_id"),
          VectorFunctions.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          round(col("qz.scale"), 6).as("scale6"),
          array_join(transform(col("qz.q"), _.cast("string")), ",").as("codes"))
        .orderBy(col("vec_id"))
    },
      oracle = Some(
        """WITH q AS (
          |  SELECT vec_id,
          |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS s,
          |         embedding::DOUBLE[] AS e
          |  FROM embeddings)
          |SELECT vec_id, round(s, 6) AS scale6,
          |       array_to_string(list_transform(e, x ->
          |         (CASE WHEN s = 0 THEN 0
          |               WHEN x < 0 THEN -floor(abs(x) / s + 0.5)
          |               ELSE floor(abs(x) / s + 0.5) END)::INT), ',') AS codes
          |FROM q
          |ORDER BY vec_id""".stripMargin)),

    // Per-label embedding centroids (element-wise mean): posexplode →
    // hash-agg on (label, pos) — partial+final agg, no collect.
    QuerySpec("embedding_centroid", (s, dir) => {
      embeddings(s, dir)
        .select(col("label"),
          posexplode(VectorFunctions.toDoubleArray(col("embedding"))).as(Seq("pos0", "v")))
        .select(col("label"), (col("pos0") + 1).as("pos"), col("v"))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v")), 6).as("centroid_v"))
        .orderBy(col("label"), col("pos"))
    },
      oracle = Some(
        """SELECT label, i AS pos, round(avg(embedding[i]::DOUBLE), 6) AS centroid_v
          |FROM embeddings, range(1, 65) t(i)
          |GROUP BY label, i
          |ORDER BY label, pos""".stripMargin)),

    // Gap-based session windows (6h gap), per user.
    QuerySpec("session_window", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      WindowAssign.sessionWindow(ev, col("user_id"), col("ts_s"), col("event_id"), 21600L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts_s")).as("session_start_s"),
          (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      oracle = Some(
        """WITH e AS (SELECT user_id, event_id, value,
          |                  epoch_ns(ts) // 1000000000 AS ts_s
          |           FROM events),
          |     f AS (SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
          |                            OR ts_s - lag(ts_s) OVER w > 21600
          |                          THEN 1 ELSE 0 END AS new_sess
          |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
          |     g AS (SELECT *, (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
          |           FROM f)
          |SELECT user_id, session_id, count(*) AS n_events,
          |       min(ts_s) AS session_start_s,
          |       max(ts_s) - min(ts_s) AS duration_s,
          |       round(sum(value), 2) AS sum_value
          |FROM g
          |GROUP BY user_id, session_id
          |ORDER BY user_id, session_id""".stripMargin)),

    // Gap-fill + linear interpolation: each user's irregular event values
    // densified to an hourly grid with forward-fill and between-neighbor
    // interpolation (user_id < 30 bounds the verify artifact; the operator
    // is per-key-parallel at any user count).
    QuerySpec("events_gapfill", (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") < 30)
      Timeseries.gapFillInterpolate(ev, col("user_id"),
          unix_timestamp(col("ts")), col("value"), 3600L)
        .select(col("key").as("user_id"), col("bucket_s"), col("is_observed"),
          col("v_ffill"), col("v_interp"))
        .orderBy(col("user_id"), col("bucket_s"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT user_id, (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS bucket_s,
          |         CAST(round(avg(value) * 10000, 0) AS BIGINT) AS v_u
          |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
          |spine AS (
          |  SELECT user_id, unnest(range(min(bucket_s), max(bucket_s) + 3600, 3600)) AS bucket_s
          |  FROM b GROUP BY user_id),
          |j AS (
          |  SELECT s.user_id, s.bucket_s, b.v_u
          |  FROM spine s LEFT JOIN b USING (user_id, bucket_s)),
          |w AS (
          |  SELECT user_id, bucket_s, v_u,
          |    last_value(v_u IGNORE NULLS) OVER
          |      (PARTITION BY user_id ORDER BY bucket_s) AS prev_u,
          |    last_value(CASE WHEN v_u IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
          |      (PARTITION BY user_id ORDER BY bucket_s) AS prev_t,
          |    first_value(v_u IGNORE NULLS) OVER
          |      (PARTITION BY user_id ORDER BY bucket_s
          |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_u,
          |    first_value(CASE WHEN v_u IS NOT NULL THEN bucket_s END IGNORE NULLS) OVER
          |      (PARTITION BY user_id ORDER BY bucket_s
          |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
          |  FROM j)
          |SELECT user_id, bucket_s, (v_u IS NOT NULL) AS is_observed,
          |       prev_u / 10000.0 AS v_ffill,
          |       (CASE WHEN v_u IS NOT NULL THEN v_u
          |             WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN
          |               (prev_u * (next_t - bucket_s) + next_u * (bucket_s - prev_t))
          |                 // (next_t - prev_t)
          |             ELSE coalesce(prev_u, next_u) END) / 10000.0 AS v_interp
          |FROM w
          |ORDER BY user_id, bucket_s""".stripMargin)),

    // Sliding (hopping) windows: 1h size, 15min slide — every event in 4.
    QuerySpec("sliding_window", (s, dir) => {
      val ev = events(s, dir).withColumn("ts_s", unix_timestamp(col("ts")))
      WindowAssign.slidingWindow(ev, col("ts_s"), 3600L, 900L)
        .groupBy(col("window_start_s"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start_s"))
    },
      oracle = Some(
        """SELECT ws AS window_start_s, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM (SELECT value,
          |             unnest([((epoch_ns(ts) // 1000000000) // 900 - k) * 900
          |                     for k in [0, 1, 2, 3]]) AS ws
          |      FROM events)
          |GROUP BY ws
          |ORDER BY ws""".stripMargin)),

    // CUBE grouping sets (all four combinations).
    QuerySpec("q_cube", (s, dir) => {
      lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
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
          |GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY returnflag, linestatus""".stripMargin)),

    // Explicit GROUPING SETS (asymmetric: not a cube/rollup): totals by
    // (status, priority), by status alone, and grand total.
    QuerySpec("q_grouping_sets", (s, dir) => {
      orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue"))
        .orderBy(col("status"), col("priority"))
    },
      oracle = Some(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       count(*) AS n_orders,
          |       round(sum(o_totalprice), 2) AS revenue
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
          |ORDER BY status, priority""".stripMargin)),

    // Exact interpolated percentiles (sort-based agg) per order priority.
    // ORACLE SHAPE: at 100 TB run q_approx_percentiles (t-digest) instead.
    // Exact interpolated quartiles, integer-exact across engines: prices
    // quantize to BIGINT cents; a quantile at f ∈ {¼, ½, ¾} of integers is
    // an exact multiple of a quarter-cent (a + f·(b−a), f a power-of-two
    // fraction), so ×4 is an integer and the emitted double divides
    // identical integers — rounding an interpolated money quantile to 2
    // decimals is the constructed-tie class q_outliers_mad hit.
    QuerySpec("q_percentiles", (s, dir) => {
      def q(f: Double, as: String) =
        (round(expr(s"percentile(xc, ${f}d)") * 4, 0).cast("long")
          .cast("double") / 400.0).as(as)
      orders(s, dir)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("xc"))
        .groupBy(col("o_orderpriority"))
        .agg(q(0.25, "p25"), q(0.5, "p50"), q(0.75, "p75"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      note = Some(
        "exact percentile = per-group sort agg. " +
          "Scale path: q_approx_percentiles (percentile_approx t-digest, partial+final hash agg)."),
      oracle = Some(
        """WITH o AS (SELECT o_orderpriority,
          |                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS xc
          |           FROM orders)
          |SELECT o_orderpriority,
          |       CAST(round(quantile_cont(xc, 0.25) * 4, 0) AS BIGINT) / 400.0 AS p25,
          |       CAST(round(quantile_cont(xc, 0.5) * 4, 0) AS BIGINT) / 400.0 AS p50,
          |       CAST(round(quantile_cont(xc, 0.75) * 4, 0) AS BIGINT) / 400.0 AS p75,
          |       count(*) AS n_orders
          |FROM o
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // Scale companion to q_percentiles: t-digest percentile_approx is one
    // partial+final hash agg (no per-group sort) — the form a 100 TB
    // pipeline runs. No oracle (sketch-dependent); the spec pins deviation
    // vs the exact query to <=1%.
    QuerySpec("q_approx_percentiles", (s, dir) => {
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(percentile_approx(col("o_totalprice"), lit(0.25), lit(10000)), 2).as("p25"),
          round(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)), 2).as("p50"),
          round(percentile_approx(col("o_totalprice"), lit(0.75), lit(10000)), 2).as("p75"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      twin = Some("q_approx_percentiles_exact")),

    // percentile_approx in its EXACT regime: Greenwald-Khanna keeps every
    // sample while 2·ε·n < 1 (compression can only drop a sample when the
    // adjacent g/Δ sum stays under 2·ε·n, so with n < accuracy/2 nothing is
    // ever dropped, through the partial-merge path included) — the serving
    // quantile is then the plain order statistic at rank ceil(p·n), which
    // coincides with DuckDB's quantile_disc (probed: identical on uniform,
    // tied, and price-like data through multi-partition merges). Same
    // conversion as events_quantiles_exact, giving the whole
    // ApproximatePercentile path (partial update → merge → query) a SQL
    // oracle; the sketch-regime twin q_approx_percentiles stays rows-tier.
    // The premise is ENFORCED in the plan: assert max per-group count stays
    // within the no-drop bound instead of silently drifting to estimates.
    QuerySpec("q_approx_percentiles_exact", (s, dir) => {
      val acc = 131072
      val o = orders(s, dir)
      val guard = o.groupBy(col("o_orderpriority")).count()
        .agg(max(col("count")).as("__mx"))
      Guards.inPlanAssert(
          o.groupBy(col("o_orderpriority"))
            .agg(
              percentile_approx(col("o_totalprice"), lit(0.25), lit(acc)).as("p25"),
              percentile_approx(col("o_totalprice"), lit(0.5), lit(acc)).as("p50"),
              percentile_approx(col("o_totalprice"), lit(0.75), lit(acc)).as("p75"),
              count(lit(1)).as("n_orders")),
          // STRICT bound, matching the invariant above: at n == accuracy/2
          // the insert delta floor(2·ε·n) reaches 1 and exactness would
          // rest on QuantileSummaries internals, not the documented premise
          guard, col("__mx") * 2 < acc,
          "q_approx_percentiles_exact: a group outgrew the GK exact range " +
            s"(accuracy=$acc, no-drop bound n < accuracy/2) — compression " +
            "would turn quantiles into estimates; raise accuracy or use " +
            "q_approx_percentiles (sketch regime)")
        .orderBy(col("o_orderpriority"))
    },
      twin = Some("q_approx_percentiles"),
      // GK percentile_approx in its exact regime: every sample retained, so
      // the serving quantile is the order statistic at rank ceil(p·n) —
      // DuckDB's quantile_disc rule
      oracle = Some(
        """SELECT o_orderpriority,
          |       quantile_disc(o_totalprice, 0.25) AS p25,
          |       quantile_disc(o_totalprice, 0.5)  AS p50,
          |       quantile_disc(o_totalprice, 0.75) AS p75,
          |       count(*) AS n_orders
          |FROM orders
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)),

    // Pivot (dynamic columns from event_type values) over per-user activity.
    QuerySpec("q_pivot", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "error"))
        .agg(round(sum(col("value")), 2))
        .select(col("user_id"),
          coalesce(col("click"), lit(0.0)).as("click_value"),
          coalesce(col("view"), lit(0.0)).as("view_value"),
          coalesce(col("purchase"), lit(0.0)).as("purchase_value"),
          coalesce(col("error"), lit(0.0)).as("error_value"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """SELECT user_id,
          |       round(coalesce(sum(value) FILTER (event_type = 'click'), 0), 2) AS click_value,
          |       round(coalesce(sum(value) FILTER (event_type = 'view'), 0), 2) AS view_value,
          |       round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 2) AS purchase_value,
          |       round(coalesce(sum(value) FILTER (event_type = 'error'), 0), 2) AS error_value
          |FROM events
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin)),

    // Collection aggregation: distinct set -> sorted -> joined (stable
    // string form so the oracle hash-compares exactly).
    QuerySpec("q_collect", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          concat_ws(",", array_sort(collect_set(col("event_type")))).as("event_types"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      oracle = Some(
        """SELECT user_id,
          |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
          |       count(*) AS n_events
          |FROM events
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin))
  )
}
