package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.QueryRegistry

/** Scratch profiling main (not part of the driver contract): stage-level
  * timings for the PQ pipeline.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    if (args.headOption.contains("setzipf")) {
      // The r17 VERDICT's #1 ask: the same natural-Zipf curve audit that
      // caught the Bayardo mw bound, for the OTHER prefix/blocking dedup
      // forms. Usage:
      //   runMain graft.Prof setzipf <zipfDir> [op...]
      // ops ⊆ {jprefix, jplain, cprefix, cplain, minhash}; default all.
      // All unblocked (lang is constant in the Zipf fixture on purpose) —
      // the corpus class where no blocking crutch exists.
      import graft.operators.Dedup
      import org.apache.spark.sql.DataFrame
      val dir = args(1)
      val all = Seq("jprefix", "jplain", "cprefix", "cplain", "minhash")
      val ops = if (args.length > 2) args.drop(2).toSet else all.toSet
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println(s"[prof] zipf corpus: ${docs.count()} docs; ops=${ops.mkString(",")}")
      def mk(name: String): () => DataFrame = name match {
        case "jprefix" => () => Dedup.ngramJaccardPairsPrefix(
          docs, "doc_id", "text", Seq(col("lang")), shingleSize = 3, threshold = 0.5)
        case "jplain" => () => Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", Seq(col("lang")), shingleSize = 3, threshold = 0.5)
        case "cprefix" => () => Dedup.containmentPairsPrefix(
          docs, "doc_id", "text", Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        case "cplain" => () => Dedup.containmentPairs(
          docs, "doc_id", "text", Seq(col("lang")), shingleSize = 3, threshold = 0.8)
        case "minhash" => () => Dedup.minhashPairs(
          docs, "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
          threshold = 0.5, md5Family = true)
      }
      for (name <- all if ops(name)) {
        val f = mk(name)
        f().limit(1).write.format("noop").mode("overwrite").save() // codegen/JIT warmup
        (1 to 2).foreach { round =>
          time(s"$name round $round")(f().write.format("noop").mode("overwrite").save())
        }
        println(s"[prof] $name pairs: ${f().count()}")
      }
      // exactness cross-checks when both twins ran (prefix forms must
      // reproduce the plain inverted index bit-for-bit)
      def xcheck(a: String, b: String, cols: Seq[String]): Unit =
        if (ops(a) && ops(b)) {
          val d = mk(a)().unionAll(mk(b)())
            .groupBy(cols.map(col): _*).count().filter(col("count") =!= 2).count()
          println(s"[prof] $a vs $b symmetric-difference rows: $d" +
            (if (d == 0) "  (EXACT match)" else "  (MISMATCH!)"))
        }
      xcheck("jprefix", "jplain", Seq("doc_a", "doc_b", "jaccard"))
      xcheck("cprefix", "cplain", Seq("doc_a", "doc_b", "containment"))
      spark.stop(); return
    }
    if (args.headOption.contains("linkzipf")) {
      // The r17 VERDICT's #2 ask: stress linkage's GLOBAL maxGramFreq
      // stop-gram cap on a corpus whose name-gram frequencies grow with N
      // (the testdata customer names have near-unique digit tails, so the
      // cap never bites there). Zipf-token names: "t<r1> t<r2>" with ranks
      // from the same continuous Zipf(s=1) inverse CDF as graft.ZipfData,
      // vocabulary V = 15·n (Heaps growth); the dirty side is one
      // deterministic single-char edit per record (substitute / delete /
      // insert — the linkage_blocked scheme). As n grows, head-token tails
      // push more grams past the fixed cap.
      // Usage: runMain graft.Prof linkzipf <n> [maxGramFreq]
      // Reports: wall time (min-of-2), coverage (dirty records that found
      // ANY match at dist <= 2 — each has its origin at dist 1, so a
      // perfect blocker gives n), and the all-hot diagnostic (records
      // whose ENTIRE gram set is above the cap — unblockable, recall rot).
      import graft.operators.Linkage
      val n = args(1).toLong
      val cap = if (args.length > 2) args(2).toLong
        else graft.operators.Linkage.DefaultMaxGramFreq
      val vocab = 15L * n
      def u(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
        (pmod(xxhash64(cols: _*), lit(1L << 30)).cast("double") + 0.5) / (1L << 30).toDouble
      def rank(uu: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        least(lit(vocab), floor(pow(lit(vocab + 1.0), uu)).cast("long"))
      val clean = spark.range(0, n, 1, 32)
        .select(col("id").as("c_id"),
          concat(lit("t"), rank(u(lit("a"), col("id"))),
            lit(" t"), rank(u(lit("b"), col("id")))).as("c_name"))
        .localCheckpoint()
      val pos = lit(2) + pmod(col("c_id"), lit(3)) // 1-based, inside every name (len >= 5)
      val m3 = pmod(col("c_id"), lit(3))
      val dirty = clean.select(col("c_id").as("d_id"),
        when(m3 === 0,
            concat(col("c_name").substr(lit(1), pos - 1), lit("x"),
              col("c_name").substr(pos + 1, lit(100))))
          .when(m3 === 1,
            concat(col("c_name").substr(lit(1), pos - 1),
              col("c_name").substr(pos + 1, lit(100))))
          .otherwise(
            concat(col("c_name").substr(lit(1), pos - 1), lit("z"),
              col("c_name").substr(pos, lit(100)))).as("d_name"))
        .localCheckpoint()
      println(s"[prof] linkzipf: n=$n vocab=$vocab cap=$cap")
      // all-hot diagnostic: replicate the operator's tail-gram + cap steps
      def grams(df: org.apache.spark.sql.DataFrame, id: String, name: String) = {
        val nm = lower(col(name))
        val tail = nm.substr(greatest(length(nm) - 7, lit(1)), lit(8))
        df.select(col(id),
            explode(transform(sequence(lit(1), greatest(length(tail) - 3, lit(1))),
              i => tail.substr(i, lit(4)))).as("__g"))
          .dropDuplicates(id, "__g")
      }
      val rg = grams(clean, "c_id", "c_name").localCheckpoint()
      val hot = rg.groupBy(col("__g")).agg(count(lit(1)).as("__f"))
        .filter(col("__f") > cap).select(col("__g")).localCheckpoint()
      println(s"[prof] hot grams: ${hot.count()} of ${rg.select(col("__g")).distinct().count()} distinct")
      val allHotRef = clean.count() -
        rg.join(hot, Seq("__g"), "left_anti").select(col("c_id")).distinct().count()
      val dg = grams(dirty, "d_id", "d_name")
      val allHotDirty = dirty.count() -
        dg.join(hot, Seq("__g"), "left_anti").select(col("d_id")).distinct().count()
      println(s"[prof] all-hot records (unblockable under the bare cap; floored now): " +
        s"ref=$allHotRef dirty=$allHotDirty of $n")
      def run() = Linkage.bestMatch(
        dirty, col("d_id"), col("d_name"),
        clean, col("c_id"), col("c_name"), maxGramFreq = cap)
      run().limit(1).write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { round =>
        time(s"bestMatch round $round")(run().write.format("noop").mode("overwrite").save())
      }
      val matched = run().count()
      println(f"[prof] coverage: $matched of $n (${matched * 100.0 / n}%.2f%%)")
      spark.stop(); return
    }
    if (args.headOption.contains("linkstage")) {
      // stage replica of Linkage.candidatePairs on the sf0.1 customer
      // workload — where does the r18 block-step rework spend its time?
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val nameL = lower(col("c_name"))
      val pos = lit(10) + pmod(col("c_custkey"), lit(9))
      val m3 = pmod(col("c_custkey"), lit(3))
      val dirtyName = when(m3 === 0,
          concat(nameL.substr(lit(1), pos - 1), lit("x"), nameL.substr(pos + 1, lit(100))))
        .when(m3 === 1,
          concat(nameL.substr(lit(1), pos - 1), nameL.substr(pos + 1, lit(100))))
        .otherwise(
          concat(nameL.substr(lit(1), pos - 1), lit("z"), nameL.substr(pos, lit(100))))
      val l = cust.select(col("c_custkey").as("left_id"), lower(dirtyName).as("__ln"))
      val r = cust.select(col("c_custkey").as("right_id"), lower(col("c_name")).as("__rn"))
      val rDedup = r.groupBy(col("__rn")).agg(min(col("right_id")).as("right_id"))
        .select(col("right_id"), col("__rn"))
      def tailGrams(name: org.apache.spark.sql.Column) = {
        val gw = graft.operators.Linkage.DefaultGramWidth
        val tl = graft.operators.Linkage.DefaultTailLen
        val tail = name.substr(greatest(length(name) - (tl - 1), lit(1)), lit(tl))
        transform(sequence(lit(1), greatest(length(tail) - (gw - 1), lit(1))),
          i => tail.substr(i, lit(gw)))
      }
      def explodeGrams(df: DataFrame, idCol: String, nameCol: String, lenCol: String) =
        df.select(col(idCol), length(col(nameCol)).as(lenCol),
            explode(tailGrams(col(nameCol))).as("__g"))
          .dropDuplicates(idCol, "__g")
      val lg = explodeGrams(l, "left_id", "__ln", "__ll").localCheckpoint()
      val rg = explodeGrams(rDedup, "right_id", "__rn", "__rl").localCheckpoint()
      println(s"[prof] lg=${time("lg")(lg.count())} rg=${time("rg")(rg.count())}")
      val dfreq = rg.groupBy(col("__g")).agg(count(lit(1)).as("__f")).localCheckpoint()
      println(s"[prof] dfreq=${time("dfreq")(dfreq.count())}")
      // mirrors Linkage.candidatePairs' kept() — parameters come from the
      // operator's shared defaults so this replica cannot silently drift;
      // if kept()'s LOGIC changes in Linkage, this block must track it.
      val cap = graft.operators.Linkage.DefaultMaxGramFreq
      val nFloor = graft.operators.Linkage.DefaultFloorGrams
      val blockCap = graft.operators.Linkage.DefaultFloorBlockCap
      def kept(g: DataFrame, idCol: String) = {
        val withF = g.join(dfreq, Seq("__g"))
        val cold = withF.filter(col("__f") <= cap).drop("__f")
        val allHot = withF.groupBy(col(idCol)).agg(min(col("__f")).as("__minf"))
          .filter(col("__minf") > cap).select(col(idCol))
        val w = Window.partitionBy(col(idCol)).orderBy(col("__f"), col("__g"))
        val floor = withF.join(allHot, Seq(idCol))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= nFloor)
          .withColumn("__bc", count(lit(1)).over(Window.partitionBy(col("__g"))))
          .filter(col("__bc") <= blockCap)
          .drop("__f", "__rk", "__bc")
        cold.unionByName(floor)
      }
      val lk = kept(lg, "left_id").localCheckpoint()
      val rk = kept(rg, "right_id").localCheckpoint()
      println(s"[prof] lk=${time("lk")(lk.count())} rk=${time("rk")(rk.count())}")
      val joined = lk.as("l").join(rk.as("r"), "__g")
        .filter(abs(col("__ll") - col("__rl")) <= 2)
      println(s"[prof] joinrows=${time("join")(joined.count())}")
      val pairs = joined.select(col("left_id"), col("right_id")).distinct().localCheckpoint()
      println(s"[prof] pairs=${time("pairs distinct")(pairs.count())}")
      val withNames = pairs.join(l, "left_id").join(r, "right_id")
      val verified = withNames
        .withColumn("dist", levenshtein(col("__ln"), col("__rn"), 2))
        .filter(col("dist") >= 0 && col("dist") <= 2)
      println(s"[prof] verified=${time("verify")(verified.count())}")
      val w2 = Window.partitionBy(col("left_id")).orderBy(col("dist"), col("right_id"))
      val best = verified.withColumn("__rk", row_number().over(w2))
        .filter(col("__rk") === 1)
      println(s"[prof] best=${time("resolve")(best.count())}")
      // the real operator, end to end, twice (the bench shape)
      def full() = graft.operators.Linkage.bestMatch(
        cust.select(col("c_custkey").as("d_id"), dirtyName.as("d_name")),
        col("d_id"), col("d_name"),
        cust.select(col("c_custkey"), col("c_name")), col("c_custkey"), col("c_name"))
      (1 to 2).foreach { round =>
        time(s"full bestMatch round $round")(full().write.format("noop").mode("overwrite").save())
      }
      spark.stop(); return
    }
    if (args.headOption.contains("plantime")) {
      // planning-vs-execution split: time query CONSTRUCTION + analysis +
      // optimization + physical planning (executedPlan forcing, no jobs)
      // against the full noop-sink execution, per query. Distinguishes
      // expression-tree/codegen overhead from actual compute.
      // Usage: runMain graft.Prof plantime <queryName ...>
      val names = args.drop(1).toSeq
      for (name <- names) {
        val fn = QueryRegistry.byName(name).build
        // warmup both phases
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"[prof] $name failed: ${e.getMessage}") }
        (1 to 2).foreach { r =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis+optimization+planning
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          println(f"[prof] $name round $r: construct ${(t1 - t0) / 1e9}%.2f s, " +
            f"plan ${(t2 - t1) / 1e9}%.2f s, execute ${(t3 - t2) / 1e9}%.2f s")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("graphstage")) {
      // where do the iterative graph queries spend their time? Depth sweep:
      // pageRank at iters 1/2/3 (marginal = per-step cost, intercept =
      // Prepared construction), shortestHops at 0/1/3 hops, plus the raw
      // edge-prep subtree alone. Usage: runMain graft.Prof graphstage
      import graft.operators.Graph
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"))
      def e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
        .distinct()
      def sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = spark.read.parquet(s"$sfDir/supplier.parquet")
        .filter(pmod(col("s_suppkey"), lit(10)) === 0)
        .select(concat(lit("s"), col("s_suppkey").cast("string")).as("vertex"))
      // warmup
      Graph.pageRank(sym, 1).write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { r =>
        time(s"edge prep alone round $r")(
          sym.write.format("noop").mode("overwrite").save())
        for (it <- Seq(1, 2, 3))
          time(s"pageRank iters=$it round $r")(
            Graph.pageRank(sym, it).write.format("noop").mode("overwrite").save())
        for (h <- Seq(0, 1, 3))
          time(s"shortestHops maxHops=$h round $r")(
            Graph.shortestHops(sym, seeds, h).write.format("noop").mode("overwrite").save())
      }
      spark.stop(); return
    }
    if (args.headOption.contains("audiomicro")) {
      // single-threaded micro-split of the JDK audio stack on one
      // fixture-class clip: where do the per-clip milliseconds go?
      // Usage: runMain graft.Prof audiomicro [reps]
      val reps = if (args.length > 1) args(1).toInt else 2000
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val n = 2080
      val rnd = new java.util.Random(42L)
      val pcm = new Array[Byte](n * 2)
      rnd.nextBytes(pcm)
      def mkWav(): Array[Byte] = {
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        baos.toByteArray
      }
      val wav = mkWav()
      def bench(label: String)(f: => Unit): Unit = {
        var i = 0; while (i < reps / 10) { f; i += 1 } // warmup
        val t0 = System.nanoTime()
        i = 0; while (i < reps) { f; i += 1 }
        println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e3 / reps}%.1f us/op")
      }
      bench("writeWav (AudioSystem.write)")(mkWav())
      bench("getAudioInputStream(wav)")({
        val a = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav)); a.close()
      })
      bench("decode: open+readAllBytes")({
        val a = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        a.readAllBytes(); a.close()
      })
      val ulawFmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
      bench("ulaw transcode chain (convert+write)")({
        val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val conv = javax.sound.sampled.AudioSystem.getAudioInputStream(ulawFmt, src)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          conv, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        src.close()
      })
      val ulawWav = {
        val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val conv = javax.sound.sampled.AudioSystem.getAudioInputStream(ulawFmt, src)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          conv, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        baos.toByteArray
      }
      bench("ulaw decode via conversion chain")({
        val a0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(ulawWav))
        val f0 = a0.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          f0.getSampleRate, 16, f0.getChannels,
          f0.getChannels * 2, f0.getSampleRate, false)
        val a = javax.sound.sampled.AudioSystem.getAudioInputStream(target, a0)
        a.readAllBytes(); a.close()
      })
      spark.stop(); return
    }
    if (args.headOption.contains("audiostage")) {
      // where does audio_neardup spend its time? Stage split: WAV synth
      // alone (xxhash64 of bytes forces materialization without decode),
      // synth + javax.sound decode + envelope hash, u-law transcode.
      // Usage: runMain graft.Prof audiostage
      import graft.operators.{Dedup, Multimodal}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).repartition(32).localCheckpoint()
      println(s"[prof] ${docs.count()} docs")
      def synth() = Multimodal.syntheticAudioWav(docs, "doc_id", "text")
      (1 to 2).foreach { r =>
        time(s"synth only round $r")(
          synth().select(xxhash64(col("content")).as("h"))
            .agg(count(lit(1))).head)
      }
      (1 to 2).foreach { r =>
        time(s"synth + decode + hash round $r")(
          Multimodal.perceptualAudioHashes(synth()).agg(count(lit(1))).head)
      }
      (1 to 2).foreach { r =>
        time(s"synth + ulaw transcode round $r")(
          Multimodal.reencodeUlaw(synth())
            .select(xxhash64(col("content")).as("h")).agg(count(lit(1))).head)
      }
      (1 to 2).foreach { r =>
        time(s"full audioNearDupPairs round $r")(
          Dedup.audioNearDupPairs(synth(), maxHamming = 0).agg(count(lit(1))).head)
      }
      spark.stop(); return
    }
    if (args.headOption.contains("videodensity")) {
      // fixture-density probe for the video_neardup census: pair/link
      // counts per (maxHamming, minFrames) — the image_neardup lesson
      // (smooth-fixture hash entropy makes cross-pair OUTPUT ∝ n²) needs
      // the measurement BEFORE the census parameters ship.
      // Usage: runMain graft.Prof videodensity [sfDir]
      import graft.operators.{Dedup, Multimodal}
      val dir = if (args.length > 1) args(1) else sfDir
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).repartition(32)
      val base = Multimodal.syntheticSmoothVideos(docs, "doc_id", "text")
        .localCheckpoint(false)
      val variants = Multimodal.reencodeVideo(
          base.filter(pmod(col("media_id"), lit(2)) === 0), quality = 0.6f)
        .select((col("media_id") + 1000000L).as("media_id"),
          col("media_type"), col("content"))
      val media = base.unionByName(variants).localCheckpoint(false)
      println(s"[prof] ${docs.count()} docs")
      for (maxH <- Seq(10, 6, 4); minF <- Seq(2, 3)) {
        val pairs = Dedup.videoNearDupPairs(media, maxHamming = maxH, minFrames = minF)
        val isLink = col("media_b") === col("media_a") + 1000000L
        // coalesce: sums are NULL on an empty pair set (a strict enough
        // parameter combination is exactly what the probe measures)
        val r = time(s"census maxH=$maxH minF=$minF")(
          pairs.agg(count(lit(1)).as("n"),
            coalesce(sum(when(isLink, 1L).otherwise(0L)), lit(0L)).as("links"),
            coalesce(sum(when(isLink && col("matched_frames") === 3, 1L)
              .otherwise(0L)), lit(0L)).as("full")).head)
        println(s"[prof] maxH=$maxH minF=$minF pairs=${r.getLong(0)} " +
          s"links=${r.getLong(1)} full=${r.getLong(2)}")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("hotbucket")) {
      // the degenerate-corpus melt: N rows, ONE shared hash (all-black
      // thumbnails) — every band bucket holds the full population and the
      // ungated band self-join emits (maxHamming+1) * N^2/2 candidate
      // rows. Usage: runMain graft.Prof hotbucket [n ...]
      import graft.operators.Dedup
      val ns = if (args.length > 1) args.drop(1).toSeq.map(_.toInt)
               else Seq(5000, 10000, 20000)
      for (n <- ns) {
        val hashed = spark.range(n.toLong)
          .select(col("id").as("doc_id"), lit(0x5a5a17a9L).as("h"))
          .localCheckpoint()
        time(s"ungated n=$n")(
          Dedup.hammingBandPairs(hashed, "doc_id", "h", maxHamming = 6)
            .agg(count(lit(1))).head)
        time(s"guarded n=$n (raises)")(
          try {
            Dedup.hammingBandPairs(hashed, "doc_id", "h", maxHamming = 6,
                maxBucket = Some(1000L))
              .agg(count(lit(1))).head
            println(s"[prof] n=$n guard DID NOT raise (bug)")
          } catch {
            case e: Exception =>
              println(s"[prof] n=$n guard raised: ${e.getMessage.take(100)}")
          })
      }
      spark.stop(); return
    }
    if (args.headOption.contains("tfidfzipf")) {
      // Bayardo prefix prune vs plain inverted index on a natural-Zipf
      // corpus (generated by graft.ZipfData) — the measurement SCALE.md's
      // dense-corpus negative result says this operator needs. Usage:
      //   runMain graft.Prof tfidfzipf <zipfDir> [threshold] [noplain]
      // `noplain` skips the plain index (for scales where its Σ df² join
      // is known quadratic and would run for minutes — record as DNF).
      import graft.operators.Dedup
      val dir = args(1)
      val modeFlags = Set("noplain", "stages", "plainonly")
      val thr = args.drop(2).find(a => !modeFlags.contains(a)).map(_.toDouble).getOrElse(0.8)
      val runPlain = !args.contains("noplain")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println(s"[prof] zipf corpus: ${docs.count()} docs, threshold $thr")
      def prefix() = Dedup.tfidfCosinePairsPrefix(docs, "doc_id", "text", Seq(col("lang")), thr)
      def plain() = Dedup.tfidfCosinePairs(docs, "doc_id", "text", Seq(col("lang")), thr)
      if (args.contains("stages")) { // stage replica of tfidfCosinePairsPrefix's internals
        import org.apache.spark.sql.expressions.Window
        val tf = docs
          .select(col("doc_id"),
            explode(graft.operators.TextAnalysis.wordTokens(col("text"))).as("term"), col("lang"))
          .groupBy(col("doc_id"), col("term"), col("lang"))
          .agg(count(lit(1)).as("c"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("__n")))
        val w = tf.join(dfreq, "term").crossJoin(nRow)
          .filter(col("df") < col("__n"))
          .withColumn("w", col("c") * log(col("__n") / col("df")))
          .select(col("doc_id"), col("term"), col("w"), col("df"), col("lang"))
        val nrm = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        val v = w.join(nrm, "doc_id").withColumn("v", col("w") / col("nrm"))
        val wnd = Window.partitionBy(col("doc_id")).orderBy(col("df").desc, col("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bounded = v.withColumn("__cum", sum(col("v") * col("v")).over(wnd)).localCheckpoint()
        println(s"[prof] bounded rows: ${time("bounded")(bounded.count())}")
        val indexed = bounded.filter(col("__cum") >= thr * thr - 1e-9)
        println(s"[prof] indexed rows: ${indexed.count()}")
        val candidates = bounded.as("l")
          .join(indexed.as("r"),
            col("l.lang") === col("r.lang") && col("l.term") === col("r.term") &&
              col("l.doc_id") =!= col("r.doc_id"))
          .select(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
            greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"))
          .distinct().localCheckpoint()
        println(s"[prof] candidate pairs: ${time("candidates")(candidates.count())}")
        val ps = w.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(
            struct(xxhash64(col("term")).as("h"), col("w").as("w")))).as("ps"))
          .join(nrm, "doc_id").localCheckpoint()
        println(s"[prof] ps rows: ${time("ps build")(ps.count())}")
        val verified = candidates
          .join(ps.select(col("doc_id").as("doc_a"), col("ps").as("ps_a"), col("nrm").as("na")), Seq("doc_a"))
          .join(ps.select(col("doc_id").as("doc_b"), col("ps").as("ps_b"), col("nrm").as("nb")), Seq("doc_b"))
          .withColumn("cos",
            graft.functions.DotSortedPairs.dotSortedPairs(col("ps_a"), col("ps_b")) /
              (col("na") * col("nb")))
          .filter(col("cos") >= thr)
        println(s"[prof] verified pairs: ${time("verify")(verified.count())}")
        spark.stop(); return
      }
      if (args.contains("plainonly")) { // one timed plain pass (for scales where 2 are too slow)
        plain().limit(1).write.format("noop").mode("overwrite").save()
        time("plain index (single pass)")(plain().write.format("noop").mode("overwrite").save())
        println(s"[prof] plain pairs: ${plain().count()}")
        spark.stop(); return
      }
      // warmup (codegen/JIT) on a slice, then min-of-2 per the SCALE.md convention
      prefix().limit(1).write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { round =>
        println(s"[prof] ---- round $round ----")
        time("prefix (Bayardo)")(prefix().write.format("noop").mode("overwrite").save())
        if (runPlain)
          time("plain index")(plain().write.format("noop").mode("overwrite").save())
      }
      val np = prefix().count()
      println(s"[prof] prefix pairs: $np")
      if (runPlain) {
        val pp = plain().count()
        val diff = prefix().unionAll(plain()).groupBy("doc_a", "doc_b", "cos")
          .count().filter(col("count") =!= 2).count()
        println(s"[prof] plain pairs: $pp, symmetric-difference rows: $diff" +
          (if (diff == 0 && np == pp) "  (EXACT match)" else "  (MISMATCH!)"))
      }
      spark.stop(); return
    }

    val emb = graft.core.Tables.embeddings(spark, sfDir)

    if (args.headOption.contains("semdedup")) {
      import graft.operators.Dedup
      // warmup
      Dedup.semanticDedup(emb, "vec_id", "embedding", nlist = 8, threshold = 0.3)
        .write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { round =>
        println(s"[prof] ---- semdedup round $round ----")
        time("kmeansCells alone")(
          Similarity.kmeansCells(emb, "vec_id", "embedding", 8, 2)
            .write.format("noop").mode("overwrite").save())
        time("full semanticDedup")(
          Dedup.semanticDedup(emb, "vec_id", "embedding", nlist = 8, threshold = 0.3)
            .write.format("noop").mode("overwrite").save())
      }
      // stage replica of semanticDedup's internals
      val cells = Similarity.kmeansCells(emb, "vec_id", "embedding", 8, 2)
      val v = emb.select(col("vec_id").as("__id"),
          transform(col("embedding"), x => x.cast("double")).as("__vec"))
        .withColumn("__nrm", sqrt(aggregate(col("__vec"), lit(0.0), (a, x) => a + x * x)))
        .join(cells.select(col("vec_id").as("__id"), col("cell")), Seq("__id"))
        .persist()
      time("assignment persist")(v.count())
      val pairs = v.as("l").join(v.as("r"),
          col("l.cell") === col("r.cell") && col("l.__id") < col("r.__id"))
        .filter(aggregate(zip_with(col("l.__vec"), col("r.__vec"), (a, b) => a * b),
          lit(0.0), (a, x) => a + x) / (col("l.__nrm") * col("r.__nrm")) >= 0.3)
        .select(col("l.__id").as("vec_a"), col("r.__id").as("vec_b"))
      println(s"[prof] pairs count: ${time("pairs")(pairs.count())}")
      time("dupClusters on pairs")(
        Dedup.dupClusters(pairs, "vec_a", "vec_b")
          .write.format("noop").mode("overwrite").save())
      // Measured (sf0.1, 2026-08-13): kmeansCells ~1.0 s, assignment persist
      // ~0.35 s, in-cell pairs ~0.7 s (4105 pairs), dupClusters ~2.4 s of
      // which 8 label-propagation rounds x ~0.17 s (the 0.3-threshold graph
      // has diameter ~8). Accelerated steps were tried and REJECTED:
      // hop+pointer-jump converged in 6 rounds / ~1.5 s, double-hop 5
      // rounds / ~1.6 s, hop+jump+jump 6 rounds / ~2.1 s -- all within
      // noise of the plain loop locally, and each pays 2-3 shuffles of the
      // label table per barrier at cluster scale where the plain hop pays
      // one. O(diameter) with one shuffle per round stays the design.
      v.unpersist()
      spark.stop(); return
    }

    // warmup pass
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      dim = 64, k = 5, m = 16, ksub = 32).write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { round =>
      println(s"[prof] ---- round $round ----")
      val cb = time("pqTrain")(
        Similarity.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 16, ksub = 32, iters = 2)
          .localCheckpoint())
      val codes = time("pqEncode")(
        Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, m = 16)
          .localCheckpoint())
      codes.count()
      time("full pqTopK")(
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, k = 5, m = 16, ksub = 32).write.format("noop").mode("overwrite").save())
    }
    spark.stop()
  }
}
