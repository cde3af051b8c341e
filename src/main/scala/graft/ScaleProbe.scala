package graft

import java.nio.file.{Files, LinkOption, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** sf1 scale probe: nothing in this repo had ever executed above sf0.1, so
  * a scale cliff (super-linear candidate growth in an LSH join, a window
  * that stops fitting a partition) would first be seen on a real cluster.
  * This main synthesizes a `factor`× corpus from an existing SF directory,
  * times the corpus families (dedup / similarity / corpus-prep) at both
  * scales, and reports per-query wall-clock ratios so anything scaling
  * worse than the data growth is flagged before it ships.
  *
  * Synthesis (documents + embeddings only — the families under probe read
  * nothing else; the remaining tables are symlinked from the base SF so
  * every `SparkEntry` query still resolves):
  *  - ids are re-keyed `old * factor + r`, keeping them distinct and dense
  *    and keeping the bounded query blocks (`vec_id < 50`) bounded;
  *  - replica r=0 is the base corpus byte-for-byte; replicas r>0 get a
  *    deterministic per-(doc,r) suffix so they are NEAR-duplicates, except
  *    ~10% (hash-picked) which stay exact clones — a re-crawl-shaped dup
  *    rate rather than a degenerate every-doc-×10 clone corpus that would
  *    inflate every candidate join quadratically by construction;
  *  - embeddings get ±1% deterministic element noise for r>0 (same
  *    rationale: near-dup structure, not collapsed identical vectors).
  *
  * The probe is diagnostic, not an oracle gate: scaled data never feeds
  * DuckDB. Results land in `target/bench_sf1.json`; SCALE.md records the
  * conclusions.
  */
object ScaleProbe {

  /** Query-name prefixes probed: the document/embedding families by
    * default (dedup / similarity / corpus-prep); override with e.g.
    * `SPARK_GRAFT_PROBE_FAMILIES=dsvt` to include text analysis.
    */
  private val Families: Set[Char] =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_FAMILIES", "dsv").toSet

  /** Comma-separated query names to exclude (`SPARK_GRAFT_PROBE_SKIP`) —
    * for densities where a query's OUTPUT contract (e.g. the quadratic
    * pair materializations d5/d6) would exceed the probe host's disk, not
    * its runtime. Skips are a per-run measurement choice, never a default.
    */
  private val Skip: Set[String] =
    sys.env.get("SPARK_GRAFT_PROBE_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def synthesize(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    val out = Paths.get(outDir)
    val marker = out.resolve("_PROBE_OK")
    // the stamp fingerprints the SOURCE tables (mtime+size) so a probe dir
    // synthesized from a previous corpus generation is rebuilt, not reused —
    // the driver regenerates /root/testdata between rounds
    val srcStamp = Seq("documents", "embeddings", "events", "orders", "lineitem")
      .map { t =>
        val p = Paths.get(baseDir, s"$t.parquet")
        s"$t:${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
      }.mkString(",")
    val stamp = s"v5 factor=$factor base=$baseDir src=$srcStamp"
    if (Files.exists(marker) && new String(Files.readAllBytes(marker)) == stamp) return
    Files.createDirectories(out)

    val reps = broadcast(spark.range(factor.toLong).select(col("id").cast("int").as("r")))

    // The base SF tables are single parquet files → one scan task; without a
    // spread the ×factor explode AND its shuffle write run on one core (the
    // 100× lineitem synth took 12 min serial vs ~1 min spread). Content is
    // per-row deterministic, so partitioning never changes the corpus.
    val spread = spark.sparkContext.defaultParallelism
    def spreadOut(df: org.apache.spark.sql.DataFrame) = df.repartition(spread)

    val docs = spreadOut(Tables.documents(spark, baseDir))
    docs.crossJoin(reps)
      .withColumn("doc_id", col("doc_id") * factor + col("r"))
      .withColumn("text",
        when(col("r") === 0 || pmod(hash(col("doc_id"), col("r")), lit(10)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zq"),
            substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("r").cast("string"))), 1, 6))))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spreadOut(Tables.embeddings(spark, baseDir)).crossJoin(reps)
      .withColumn("vec_id", col("vec_id") * factor + col("r"))
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> x + CAST(pmod(hash(vec_id, i), 1000) - 500 AS FLOAT)" +
          " / 50000.0F * CAST(IF(r = 0, 0, 1) AS FLOAT))"))
      .select("vec_id", "embedding", "label")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events ×factor: replicated USERS (new user_id/event_id keyspace,
    // same per-user activity shape) — horizontal growth, which is how an
    // event stream actually scales. `ts` passes through untouched in
    // whatever physical type this corpus generation used (nanos-as-long
    // under the legacy flag, or plain micros) — the scaled copy's reader
    // path is then identical to the driver corpus's.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evLink = out.resolve("events.parquet")
    if (Files.isSymbolicLink(evLink)) Files.delete(evLink) // v1 layout linked it
    spreadOut(spark.read.parquet(s"$baseDir/events.parquet")).crossJoin(reps)
      .withColumn("event_id", col("event_id") * factor + col("r"))
      .withColumn("user_id", col("user_id") * factor + col("r"))
      .drop("r")
      .repartition(math.max(8, factor))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // facts ×factor, FK-consistent: orders get a rekeyed o_orderkey per
    // replica and their lineitems follow with the same rekey; customers/
    // parts/suppliers stay the base dims (facts grow faster than
    // dimensions — the realistic shape, and it keeps dim joins
    // broadcast-sized at any factor). Same customer base ⇒ factor× orders
    // per customer. VALUE columns get a deterministic ±0.50 cent jitter on
    // replicas r>0 — rekeying only the id copies every price verbatim, so
    // distinct-VALUE cardinality would stay flat at any factor and a probe
    // could never see an operator whose cost grows with the value domain
    // (x16's per-distinct-cents relation was exactly that blind spot).
    val scaled = Set("documents", "embeddings", "events", "orders", "lineitem")
    val valueJitter = Map(
      "orders" -> Seq("o_totalprice"),
      "lineitem" -> Seq("l_extendedprice"))
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach { case (t, key) =>
      val link = out.resolve(s"$t.parquet")
      if (Files.isSymbolicLink(link)) Files.delete(link) // pre-v3 layout linked it
      val rekeyed = spreadOut(Tables.load(spark, baseDir, t)).crossJoin(reps)
        .withColumn(key, col(key) * factor + col("r"))
      valueJitter(t).foldLeft(rekeyed) { (df, c) =>
        df.withColumn(c, when(col("r") === 0, col(c)).otherwise(
          round(col(c) +
            (pmod(hash(col(key), col("r"), lit(c)), lit(101)) - lit(50)).cast("double") / 100.0,
            2)))
      }
        .drop("r")
        .repartition(math.max(8, factor))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    Tables.names.filterNot(scaled).foreach { n =>
      val link = out.resolve(s"$n.parquet")
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get(baseDir, s"$n.parquet").toAbsolutePath)
    }
    Files.write(marker, stamp.getBytes("UTF-8"))
  }

  /** Per-query budget: a probe exists to FIND blow-ups, so a query that
    * exceeds this at the scaled SF is itself the finding — cancel its jobs
    * (job-group cancel, the supported way to abort a running action) and
    * record the timeout instead of wedging the whole battery behind it.
    */
  private val QueryTimeoutSec: Int =
    sys.env.getOrElse("SPARK_GRAFT_PROBE_TIMEOUT_SEC", "300").toInt

  /** Per-query budget multipliers for operators whose HONEST full-width
    * ×100 time is documented above the default budget — not a blow-up, a
    * measured envelope (SCALE.md ledger). d14's output-driven cohort
    * verify has measured 265–379 s across r8/r14/r17 at byte-identical
    * 5.02M-pair output; under the 300 s default every d-family rotation
    * would re-pay a false timeout plus a manual solo re-run (it did in
    * r14 and r17). The multiplier scales with any env override, so a
    * throttled run that raises the base budget raises these with it.
    */
  private[graft] val BudgetMultiplier: Map[String, Int] =
    Map("d14_incremental_lsh" -> 3)
  private def budgetFor(name: String): Int =
    QueryTimeoutSec * BudgetMultiplier.getOrElse(name, 1)

  /** Min-of-`reps` wall-clock of materializing the FULL result
    * (`toRdd.count()` — df.count()'s fast path lets the optimizer prune
    * per-row projections and unique-key left joins, timing
    * projection-shaped queries as bare scan-counts) plus the result
    * cardinality; None on failure/timeout. Rows disambiguate the ratio
    * analysis: a candidate-driven operator (near-dup pairs) legitimately
    * costs Θ(output), so runtime ratio ≈ row ratio is linear-in-work even
    * when it exceeds the data growth factor.
    */
  private def time(spark: SparkSession, dir: String, name: String,
                   fn: (SparkSession, String) => DataFrame, reps: Int): Option[(Double, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    var rep = 0
    var timedOut = false
    // a timeout ends the battery entry for this query: min-of-reps is
    // already known (the finding IS the timeout), and rep 2 would wedge
    // the whole battery another QueryTimeoutSec for no information
    while (rep < reps && !timedOut) {
      rep += 1
      val t0 = System.nanoTime()
      // drop d-family shared caches BETWEEN reps too: min-of-reps must
      // measure the cold query, not rep2 reading rep1's persisted
      // intermediates (which understated d4/d5 by >10x in the first run)
      Materialize.releaseAll()
      val attempt = Future {
        spark.sparkContext.setJobGroup(s"probe-$name", name, interruptOnCancel = true)
        try fn(spark, dir).queryExecution.toRdd.count() finally spark.sparkContext.clearJobGroup()
      }
      try { val n = Await.result(attempt, budgetFor(name).seconds)
            runs += (((System.nanoTime() - t0) / 1e9, n)) }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(s"probe-$name")
          System.err.println(s"[probe] TIMEOUT after ${budgetFor(name)}s: $name")
          timedOut = true
        case t: Throwable =>
          System.err.println(s"[probe] FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    if (runs.nonEmpty) Some(runs.minBy(_._1)) else None
  }

  /** `--pairstats <dir>`: d5 near-dup pair-graph shape at a given SF —
    * edge count, degree skew, wedge count (= the d8 triangle join's input
    * cardinality, Σ indeg·outdeg over the a<b orientation). This is the
    * number that explains a d8 blow-up: wedges grow with the square of
    * cluster sizes, so a dup-dense corpus explodes it quadratically.
    */
  private def pairStats(spark: SparkSession, dir: String): Unit = {
    val e = Materialize.cache(queries.DedupQueries.d5SimhashPairs(spark, dir)
      .select(col("da").as("a"), col("db").as("b")))
    val edges = e.count()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedges = e.groupBy("a").agg(count(lit(1)).as("out"))
      .join(e.groupBy("b").agg(count(lit(1)).as("in")), col("a") === col("b"))
      .agg(sum(col("in") * col("out"))).head.get(0)
    val top = deg.orderBy(col("deg").desc).limit(5).collect()
      .map(r => s"${r.get(0)}:${r.get(1)}").mkString(", ")
    println(s"[pairstats] dir=$dir edges=$edges wedges=$wedges topDeg=[$top]")
    Materialize.releaseAll()
  }

  /** `--bpedepth [baseDir] [factor] [outDir]`: BPE merge-loop depth probe.
    * Production tokenizers train 30k–50k merges; the gate corpus drains
    * in double digits and round 11 measured only 256 merges over the
    * ×100 histogram, leaving per-merge cost at depth unmeasured. This
    * mode builds the ×factor histograms once (one Spark aggregation
    * each), then times the driver-tier merge loop at doubling depths up
    * to 32768 for the byte-level trainer (the GPT-2-shaped production
    * path) plus one word-level 32768 run. Each depth reports realized
    * merges (drain-aware) and wall seconds; a marginal cost for the last
    * doubling far above the previous one would flag winner selection or
    * re-merge as depth-bound. Timings are driver-side single-thread —
    * exactly how the loop runs in production (the histogram is the only
    * cluster-sized stage).
    */
  private def bpeDepth(spark: SparkSession, baseDir: String, factor: Int, outDir: String): Unit = {
    import graft.operators.Bpe
    synthesize(spark, baseDir, outDir, factor)
    def capped(df: org.apache.spark.sql.DataFrame): (Array[(String, Long)], Double) = {
      val t0 = System.nanoTime()
      val h = df.orderBy(col("cnt").desc, col("w")).limit(Bpe.MaxTypes)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (h, (System.nanoTime() - t0) / 1e9)
    }
    val (bhist, bhSec) = capped(Bpe.preTypes(spark, outDir))
    println(f"[bpedepth] byte histogram: ${bhist.length} types in $bhSec%.1fs")
    val depths = Seq(256, 2048, 8192, 32768)
    val byteRows = depths.map { d =>
      val s = System.nanoTime()
      val m = Bpe.trainSymbols(bhist, Bpe.byteSyms, d)
      val sec = (System.nanoTime() - s) / 1e9
      println(f"[bpedepth] byte  depth=$d%6d merges=${m.merges.length}%6d wall=$sec%8.2fs")
      (d, m.merges.length, sec)
    }
    val (whist, whSec) = capped(Bpe.wordTypes(spark, outDir))
    println(f"[bpedepth] word histogram: ${whist.length} types in $whSec%.1fs")
    // full word-level depth sweep (r14): the r12 sweep covered only the
    // byte-level path, and the SHALLOW word-level regime regressed 3.5×
    // under the per-change heap enqueues without any probe noticing —
    // shallow depths are what the t15 gate query actually runs
    val wordRows = depths.map { d =>
      val s = System.nanoTime()
      val m = Bpe.trainInMemory(whist, d)
      val sec = (System.nanoTime() - s) / 1e9
      println(f"[bpedepth] word  depth=$d%6d merges=${m.merges.length}%6d wall=$sec%8.2fs")
      (d, m.merges.length, sec)
    }
    // Cap-saturating run: the ×100 corpus tops out well under MaxTypes, so
    // the trainer's driver-memory bound (10⁶ types) had only been
    // extrapolated. Upsample the REAL tail with deterministic variants —
    // base word + '·' + base-36 digit, counts 1–3 — until the cap binds:
    // variants share the base's internal pairs, so the pair table gains
    // realistic tail mass, not random noise. Winner selection is heap-
    // driven; histogram order doesn't matter past the cap selection.
    val need = Bpe.MaxTypes - whist.length
    val synth = Array.tabulate(math.max(0, need)) { i =>
      val w = whist(i % whist.length)._1
      (w + "·" + Integer.toString(i % 36, 36), 1L + i % 3)
    }
    val capHist = whist ++ synth
    val s1 = System.nanoTime()
    val cm = Bpe.trainInMemory(capHist, 32768)
    val capSec = (System.nanoTime() - s1) / 1e9
    println(f"[bpedepth] word  depth= 32768 types=${capHist.length} (cap) " +
      f"merges=${cm.merges.length}%6d wall=$capSec%8.2fs")
    def depthJson(rows: Seq[(Int, Int, Double)]): String =
      rows.map { case (d, m, sec) =>
        s""""$d":{"merges":$m,"sec":$sec}""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"bpe_depth_probe","factor":$factor,"byte_types":${bhist.length},""" +
      s""""byte_hist_sec":$bhSec,"byte_depths":${depthJson(byteRows)},"word_types":${whist.length},""" +
      s""""word_hist_sec":$whSec,"word_depths":${depthJson(wordRows)},""" +
      s""""word_cap_32768":{"types":${capHist.length},"merges":${cm.merges.length},"sec":$capSec}}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_bpedepth.json"), line.getBytes("UTF-8"))
  }

  /** `--maint [baseDir] [factor] [outDir]`: maintenance-operator probe for
    * the two verbs a 100 TB deployment runs routinely but no query ever
    * exercises at scale: [[graft.operators.IvfIndex.recenter]] (index
    * drift repair) and [[graft.sources.VersionedStore.optimizeCurrent]]
    * (stats re-clustering).
    *
    * Recenter: build an IVF index over the ×factor embeddings, drift it
    * with 5 jittered clones of one cell's vectors (the hot-cell regime a
    * drifting crawl produces — same fixture shape `IvfIndexSpec` pins for
    * correctness), then time the LOCAL hot-cell repair against the full
    * rebuild it replaces, and report the list-size imbalance it removes
    * (max/mean list rows = what one probed hot cell costs a serve).
    *
    * Optimize: a many-version store (20 committed snapshots of history,
    * then a live snapshot hash-scattered across ~192 files so every file
    * spans the full doc_id range), Delta log exported; measure the
    * readWhere file-skipping rate and scan wall on a 1% doc_id range
    * BEFORE, time optimizeCurrent(doc_id), re-export, measure AFTER —
    * the whole point of the verb is turning "stats keep nothing" into
    * "stats keep a couple of files".
    */
  private def maintProbe(spark: SparkSession, baseDir: String, factor: Int, outDir: String): Unit = {
    import graft.functions.Vectors
    import graft.operators.IvfIndex
    import graft.sources.{DeltaLogReader, VersionedStore}
    synthesize(spark, baseDir, outDir, factor)
    def tick[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    def rmrf(dir: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(hconf).delete(hp, true); ()
    }

    // ---- IvfIndex.recenter on a drifted ×factor index ----
    val ivfBase = s"$outDir/maint_ivf"
    val rebuildBase = s"$outDir/maint_ivf_rebuild"
    rmrf(ivfBase); rmrf(rebuildBase)
    val emb = Tables.embeddings(spark, outDir)
    val cells = 64
    val (idx, tBuild) = tick(IvfIndex.build(spark, emb, ivfBase, cells = cells, lloydIters = 2))
    val hotSrc = Materialize.checkpoint(spark.read.parquet(s"$ivfBase/assignments")
      .where(col("cid") === 0).select(col("vec_id"), col("v")))
    val reps = spark.range(1, 6).select(col("id").as("r"))
    val inc = Materialize.checkpoint(hotSrc.crossJoin(reps)
      .select((col("vec_id") + col("r") * 1000000000L).as("vec_id"),
        transform(col("v"), x => x + col("r").cast("double") / 1000.0).as("embedding")))
    val (_, tAppend) = tick(idx.append(spark, inc))
    def listStats(base: String): (Long, Double, Long) = {
      val s = spark.read.parquet(s"$base/assignments").groupBy("cid").count()
        .agg(max("count").as("mx"), avg("count").as("mean"), count(lit(1)).as("n")).collect()(0)
      (s.getLong(0), s.getDouble(1), s.getLong(2))
    }
    val (mxB, meanB, cellsB) = listStats(ivfBase)
    val (retired, tRecenter) = tick(idx.recenter(spark, hotFactor = 2.0, lloydIters = 2))
    val (mxA, meanA, cellsA) = listStats(ivfBase)
    // the alternative recenter replaces: a full rebuild over the same
    // drifted vector set (base corpus + appended increment)
    val allVecs = emb.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("embedding"))
      .unionByName(inc)
    val (_, tRebuild) = tick { IvfIndex.build(spark, allVecs, rebuildBase, cells = cells, lloydIters = 2); () }
    println(f"[maint] ivf build=$tBuild%.1fs append=$tAppend%.1fs recenter=$tRecenter%.1fs " +
      f"rebuild=$tRebuild%.1fs retired=${retired.size} cells=$cellsB->$cellsA " +
      f"maxlist=$mxB->$mxA mean=$meanB%.0f->$meanA%.0f")

    // ---- VersionedStore.optimizeCurrent on a many-version store ----
    val storeBase = s"$outDir/maint_store"
    rmrf(storeBase)
    val store = new VersionedStore(storeBase)
    val docs = Tables.documents(spark, outDir).select(col("doc_id"), col("text"))
    (1L to 20L).foreach { i =>
      store.write(spark, docs.where(col("doc_id") % 20L === i % 20L).limit(2000)); ()
    }
    val unclustered = docs.repartition(192, md5(col("doc_id").cast("string")))
    val (vLive, tWrite) = tick(store.write(spark, unclustered))
    store.exportDeltaLog(spark, checkpointEvery = 10)
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    val (lo, hi) = ("0", (maxId / 100L).toString)
    def kept(): (Int, Int) = {
      val st = DeltaLogReader.resolve(spark, storeBase, None)
      (DeltaLogReader.pruneFiles(spark, st, "doc_id", lo, hi).size, st.live.size)
    }
    def scanSec(): Double =
      tick(DeltaLogReader.readWhere(spark, storeBase, "doc_id", lo, hi)
        .queryExecution.toRdd.count())._2
    val (keptB, totB) = kept()
    val scanB = scanSec()
    val liveBytes = new org.apache.hadoop.fs.Path(s"$storeBase/v=$vLive")
      .getFileSystem(hconf).getContentSummary(
        new org.apache.hadoop.fs.Path(s"$storeBase/v=$vLive")).getLength
    val targetBytes = math.max(1L << 16, liveBytes / 128)
    val (_, tOpt) = tick(store.optimizeCurrent(spark, Seq("doc_id"), targetBytes = targetBytes))
    store.exportDeltaLog(spark, checkpointEvery = 10)
    val (keptA, totA) = kept()
    val scanA = scanSec()
    println(f"[maint] store write=$tWrite%.1fs optimize=$tOpt%.1fs " +
      f"kept=$keptB/$totB->$keptA/$totA scan=$scanB%.2fs->$scanA%.2fs")

    val line = s"""{"metric":"maint_probe","factor":$factor,""" +
      s""""recenter":{"build_sec":$tBuild,"append_sec":$tAppend,"recenter_sec":$tRecenter,""" +
      s""""rebuild_sec":$tRebuild,"retired":${retired.size},"cells_before":$cellsB,""" +
      s""""cells_after":$cellsA,"max_list_before":$mxB,"max_list_after":$mxA,""" +
      s""""mean_list_before":$meanB,"mean_list_after":$meanA},""" +
      s""""optimize":{"write_sec":$tWrite,"optimize_sec":$tOpt,""" +
      s""""files_kept_before":$keptB,"files_total_before":$totB,""" +
      s""""files_kept_after":$keptA,"files_total_after":$totA,""" +
      s""""scan_sec_before":$scanB,"scan_sec_after":$scanA}}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_maint.json"), line.getBytes("UTF-8"))
  }

  /** `--distbpe [baseDir] [factor] [rounds] [outDir]`: deep-round probe of
    * the DISTRIBUTED BPE trainer. The t21 gate and the r14 ×100 probe run
    * [[graft.operators.Bpe.DistRounds]] = 16 rounds — they never cross the
    * every-64-rounds lineage checkpoint, so the design claim "truncation
    * keeps round latency FLAT at depth" had no measured artifact. This
    * mode trains `rounds` (default 128, crossing the checkpoint at 64)
    * over the ×factor word-type histogram and reports per-16-round block
    * means: a flat block profile certifies the claim; a monotone ramp
    * inside a 64-round window with a reset at the checkpoint shows the
    * plan-tree cost the truncation removes; a ramp with NO reset would
    * mean the checkpoint isn't truncating at all (the regression this
    * probe exists to catch).
    */
  private def distBpeDepth(spark: SparkSession, baseDir: String, factor: Int,
                           rounds: Int, outDir: String): Unit = {
    import graft.operators.Bpe
    synthesize(spark, baseDir, outDir, factor)
    val t0 = System.nanoTime()
    val (merges, secs) = Bpe.distMergesTimed(Bpe.wordTypes(spark, outDir), rounds)
    val total = (System.nanoTime() - t0) / 1e9
    val blocks = secs.grouped(16).zipWithIndex.map { case (b, i) =>
      val mean = b.sum / b.size
      println(f"[distbpe] rounds ${i * 16 + 1}%3d-${i * 16 + b.size}%3d mean=$mean%6.2fs max=${b.max}%6.2fs")
      (i * 16 + 1, mean, b.max)
    }.toSeq
    println(f"[distbpe] factor=$factor realized=${merges.length} total=$total%.1fs")
    val bj = blocks.map { case (lo, mean, mx) =>
      s""""$lo":{"mean":$mean,"max":$mx}""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"dist_bpe_depth","factor":$factor,"rounds":$rounds,""" +
      s""""realized":${merges.length},"total_sec":$total,"checkpoint_every":${Bpe.DistCheckpointEvery},""" +
      s""""block_secs":$bj}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_distbpe.json"), line.getBytes("UTF-8"))
  }

  /** `--zipfskew [nEdges] [hubs]`: graph-family skew stress. The synthetic
    * corpus keeps the dup graph's keys near-uniform, but real dup graphs
    * are Zipfian — one boilerplate cluster dominates, so the d12 iteration
    * (edges ⋈ ranks equi-join on src + dst-keyed partial agg) concentrates
    * its shuffle on a handful of keys. This mode synthesizes an edge list
    * whose SRC degrees follow a discrete-Pareto (Zipf-1) law over `hubs`
    * hub nodes (src = floor(hubs^u), u md5-uniform — deterministic, no
    * RNG) atop a uniform tail, runs one d12-shaped iteration three ways —
    * AQE skew-join (the default path), AQE disabled (the blow-up
    * baseline), and [[graft.operators.ScaleJoins.saltedJoin]] (the
    * explicit fallback for engines/joins AQE declines) — and reports
    * wall-clock plus the AQE skew-SPLIT count read from the executed
    * adaptive plan (PartialReducerPartitionSpec entries = how many extra
    * tasks the hot partitions were split into).
    */
  private def zipfSkew(spark: SparkSession, nEdges: Long, hubs: Int): Unit = {
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    import graft.operators.ScaleJoins

    // src: 90% of the edge mass lands on Zipf hubs (hub k carries ~1/k of
    // hub mass — hub 1 alone gets ~17% of ALL edges at hubs=100), the rest
    // on a uniform tail wide enough that the rank side cannot broadcast —
    // the shape a boilerplate-dominated dup graph has at cluster scale.
    // dst is hash-scattered (incompressible, like real ids). Deterministic
    // hash-derived uniforms — reproducible across runs.
    val u = pmod(hash(col("id")), lit(1000000L)).cast("double") / 1e6
    val tailNodes = math.max(1L, nEdges / 8)
    val edges = Materialize.checkpoint(spark.range(nEdges).select(
      when(pmod(hash(col("id"), lit(7)), lit(10)) < 9,
        pow(lit(hubs.toDouble), u).cast("long"))
        .otherwise(lit(hubs.toLong) + pmod(hash(col("id"), lit(13)), lit(tailNodes)))
        .as("src"),
      pmod(hash(col("id"), lit(99)), lit(nEdges / 4)).as("dst")))
    // model the at-scale regime on a laptop-sized probe: (a) the rank side
    // is corpus-node-sized and must NOT broadcast (at 100 TB it wouldn't);
    // (b) AQE's 256 MB skew threshold assumes cluster-sized partitions —
    // scale it with the probe so "hot partition ≫ median" is judged by the
    // same RATIO a production shuffle would see
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedThreshold = spark.conf.getOption(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    val savedAdvisory = spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
    // cluster-scale task granularity: with thousands of reducers the median
    // partition is small and the hot key's partition exceeds it by the
    // skewedPartitionFactor; 32 local partitions would hide the skew in
    // the median (hot/median ≈ 2.6 < factor 5 → AQE correctly declines)
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // TWO physical layouts of the same degree-annotated edge list:
    //  - key-clustered: straight out of the deg join, i.e. partitioned BY
    //    src — every hot-key row in ONE map task. AQE splits skewed
    //    reducers at MAP-OUTPUT granularity, so this layout is
    //    structurally unsplittable (splits must stay 0) — the case where
    //    saltedJoin is the only lever;
    //  - crawl-order: round-robin repartitioned, the layout edges have
    //    when they arrive from ingestion — the hot key's bytes spread
    //    over every mapper and AQE can split.
    val edgeDegClustered = Materialize.checkpoint(edges.join(deg, "src"))
    val edgeDegCrawl = Materialize.checkpoint(edges.join(deg, "src")
      .repartition(spark.sparkContext.defaultParallelism))
    val rank = Materialize.checkpoint(deg.select(col("src").as("node"), lit(1000000L).as("r")))
    val topDeg = deg.orderBy(col("deg").desc).limit(3).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(", ")

    def iteration(e: DataFrame, r: DataFrame): DataFrame = e
      .join(r, e("src") === r("node"))
      .selectExpr("dst", "r DIV deg AS c")
      .groupBy("dst").agg(sum("c").as("s"))

    def timed(tag: String, mk: () => DataFrame): (Double, DataFrame) = {
      val runs = (1 to 2).map { _ =>
        val df = mk()
        val t0 = System.nanoTime()
        // execute the frame's OWN physical plan: df.count() would spawn a
        // separate query execution and leave this AdaptiveSparkPlanExec
        // unfinalized (isFinalPlan=false → no skew stats to read)
        df.queryExecution.executedPlan.execute().count()
        ((System.nanoTime() - t0) / 1e9, df)
      }
      val best = runs.minBy(_._1)
      System.err.println(f"[zipfskew] $tag%-14s ${best._1}%7.2fs")
      best
    }

    // QueryStageExec is a LEAF node (its plan is a field, not a child), so
    // a plain collect never descends into completed stages — unwrap them
    def deep(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => deep(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => deep(q.plan)
      case _ => p.children.flatMap(deep)
    })
    def skewSplits(df: DataFrame): Int =
      deep(df.queryExecution.executedPlan).collect { case r: AQEShuffleReadExec =>
        r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
      }.sum

    val (tClustered, dfClustered) = timed("aqe-clustered", () => iteration(edgeDegClustered, rank))
    val splitsClustered = skewSplits(dfClustered)
    val (tAqe, dfAqe) = timed("aqe-crawl", () => iteration(edgeDegCrawl, rank))
    val splits = skewSplits(dfAqe)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val (tNoSkew, _) = timed("aqe-off", () => iteration(edgeDegCrawl, rank))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    val (tSalted, _) = timed("salted", () =>
      ScaleJoins.saltedJoin(edgeDegClustered, rank.withColumnRenamed("node", "src"), "src")
        .selectExpr("dst", "r DIV deg AS c")
        .groupBy("dst").agg(sum("c").as("s")))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
    savedThreshold.foreach(
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", _))
    savedAdvisory.foreach(spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", _))
    spark.conf.set("spark.sql.shuffle.partitions", savedParts)

    val line = s"""{"metric":"zipf_skew_probe","edges":$nEdges,"hubs":$hubs,""" +
      s""""top_src_deg":"$topDeg",""" +
      s""""clustered_sec":$tClustered,"clustered_splits":$splitsClustered,""" +
      s""""aqe_skew_sec":$tAqe,"aqe_skew_splits":$splits,""" +
      s""""skewjoin_off_sec":$tNoSkew,"salted_sec":$tSalted}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_zipf.json"), line.getBytes("UTF-8"))
  }

  /** `--dfskew [nDocs] [hotPct]`: shingle-DOCUMENT-FREQUENCY skew stress
    * for the set-similarity family (d19/d19b) and the star-edge builders
    * (m8). The ×factor corpus keeps shingle df near-uniform outside its
    * clone families; real corpora are Zipfian with boilerplate spikes.
    * Three deterministic corpora at the same doc count:
    *
    *  - `uni`  — every token doc-unique (md5-derived): the no-sharing
    *    floor, fixes the per-query baseline;
    *  - `zipf` — tokens drawn Zipf-1 over V = nDocs/4 types
    *    (`w⌊V^u⌋`, u hash-uniform): hot tokens carry huge df but rank
    *    LAST in the AllPairs ascending-df order — this is the corpus
    *    that tests d19's "fan-out falls out of the ordering" claim
    *    directly (its prefix join must stay near-linear because prefixes
    *    are built from each doc's RAREST tokens);
    *  - `hot`  — hotPct% of docs share ONE boilerplate text (the
    *    re-crawl/banner regime): d19's contractual clique boundary, so
    *    only d19b (capped) runs here, plus m8 whose text-star becomes one
    *    giant hub (its linearity claim: a k-group emits k−1 star edges,
    *    never C(k,2)).
    *
    * Each (query, corpus) cell is min-of-2 with the shared caches dropped
    * between reps; per-query timeout applies as in the ×factor battery.
    */
  private def dfSkew(spark: SparkSession, nDocs: Long, hotPct: Int): Unit = {
    val out = "target/sfprobe/dfskew"
    def uniq(salt: String, n: Int) = concat_ws(" ", (0 until n).map(i =>
      md5(concat(lit(s"$salt$i:"), col("id").cast("string")))): _*)
    def write(name: String, text: org.apache.spark.sql.Column): String = {
      val dir = s"$out/$name"
      spark.range(nDocs).select(col("id").as("doc_id"), text.as("text"))
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("probe").as("source"), length(col("text")).cast("long").as("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val uniDir = write("uni", uniq("u", 40))
    val v = math.max(16L, nDocs / 4)
    val zipfDir = write("zipf", concat_ws(" ", (0 until 40).map { j =>
      val u = pmod(hash(col("id"), lit(j)), lit(1000000L)).cast("double") / 1e6
      concat(lit("w"), floor(pow(lit(v.toDouble), u)).cast("long").cast("string"))
    }: _*))
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    val hotDir = write("hot",
      when(pmod(hash(col("id"), lit(3)), lit(100)) < hotPct, lit(boiler))
        .otherwise(uniq("h", 40)))

    val cells = Seq(
      ("d19_setsim_join", "uni", uniDir), ("d19_setsim_join", "zipf", zipfDir),
      ("d19b_top_setsim", "uni", uniDir), ("d19b_top_setsim", "zipf", zipfDir),
      ("d19b_top_setsim", "hot", hotDir),
      ("m8_crossmodal_dedup", "uni", uniDir), ("m8_crossmodal_dedup", "hot", hotDir))
    val results = cells.map { case (q, tag, dir) =>
      val r = time(spark, dir, s"$q@$tag", SparkEntry.queries(q), reps = 2)
      Materialize.releaseAll()
      System.err.println(f"[dfskew] $q%-20s $tag%-5s ${r.map(_._1).getOrElse(Double.NaN)}%8.2fs rows=${r.map(_._2).getOrElse(-1L)}")
      (q, tag, r)
    }
    val cellsJson = results.map { case (q, tag, r) =>
      s""""$q@$tag":{"sec":${r.map(_._1).getOrElse(-1.0)},"rows":${r.map(_._2).getOrElse(-1L)}}"""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (q, tag, None) => s""""$q@$tag"""" }.mkString("[", ",", "]")
    val line = s"""{"metric":"dfskew_probe","n_docs":$nDocs,"hot_pct":$hotPct,"zipf_types":$v,""" +
      s""""cells":$cellsJson,"failed":$failed}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_dfskew.json"), line.getBytes("UTF-8"))
  }

  /** `--cohort [nRows] [distinct] [outDir]`: ADVERSARIAL collapsed-cohort
    * probe for the band-join families — the m7 lesson generalized: a
    * passing ×N ratio on re-crawl-shaped synthesis certifies the measured
    * cohort structure, not the asymptotic shape, so this mode synthesizes
    * the degenerate structure directly (80% of rows collapse onto
    * `distinct` bucket keys — duplicate storms, template farms, the
    * regime that killed m7 at ×100) and measures each family against it:
    *
    *  - d2/d3 (shingle inverted index, MinHash bands): collapsed docs'
    *    shingles exceed the DF cap and drop out — candidates stay near
    *    zero BY DESIGN (the documented recall trade); wall must stay flat.
    *  - d5/d6 (SimHash / hyperplane bands): the cohort mass drives the
    *    banded pair estimate past `PairOutputBudget`, so the new
    *    pre-flight guard must REFUSE loudly (recorded as status=refused;
    *    a run under the budget is covered by the d6 cell at nRows/5).
    *  - d17 (linkage blocks): collapsed identities defeat the 10³
    *    position-counting block bound — the quadratic regime the m7
    *    hash-collapse pattern exists for.
    *
    * d19 is excluded by its documented quadratic contract (SCALE.md).
    */

  /** Classify one query's CONSTRUCTION (pre-flight) outcome for a probe
    * cell. Refusals are matched by TYPE ([[ContractRefusedException]]),
    * not message substring, so a reworded guard can't escape; any OTHER
    * construction-time failure becomes that query's own
    * `failed_at_construction` cell instead of aborting the whole probe
    * run (r16 advice: the old `getMessage.contains("refused")` match let
    * one unrelated exception kill every remaining cell).
    */
  private[graft] def classifyConstruction(build: => Unit): Either[(String, String), Unit] =
    try { build; Right(()) }
    catch {
      case e: ContractRefusedException =>
        Left(("refused", e.getMessage.takeWhile(_ != '(').trim))
      case scala.util.control.NonFatal(e) =>
        Left(("failed_at_construction",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }

  private def cohortProbe(spark: SparkSession, nRows: Long, distinctKeys: Int, outDir: String,
      serve: Boolean = false): Unit = {
    def md5Words(c: org.apache.spark.sql.Column, salt: String, n: Int) =
      concat_ws(" ", (0 until n).map(i => md5(concat(lit(s"$salt$i:"), c.cast("string")))): _*)
    val cohortShare = 80 // % of rows collapsed onto the distinct keys

    spark.range(nRows).toDF("doc_id")
      .withColumn("cohort", pmod(hash(col("doc_id"), lit(7)), lit(distinctKeys)))
      .withColumn("text",
        when(pmod(hash(col("doc_id")), lit(100)) < cohortShare, md5Words(col("cohort"), "c", 20))
          .otherwise(md5Words(col("doc_id"), "u", 20)))
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("cohort").as("source"), length(col("text")).cast("long").as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    spark.range(nRows / 5).toDF("vec_id")
      .withColumn("seed",
        when(pmod(hash(col("vec_id")), lit(100)) < cohortShare,
          pmod(hash(col("vec_id"), lit(7)), lit(distinctKeys)).cast("long"))
          .otherwise(col("vec_id") + lit(1000000000L)))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> CAST(pmod(hash(seed, i), 1000) AS FLOAT) / 500.0F - 1.0F)"))
      .select(col("vec_id"), col("embedding"), lit(0).as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // collapsed identity strings WITH a shared nation (the composited
    // trusted attribute must not rescue the block) — a registry where 80%
    // of rows are re-registrations of `distinct` entities
    spark.range(nRows).toDF("c_custkey")
      .withColumn("ident",
        when(pmod(hash(col("c_custkey")), lit(100)) < cohortShare,
          pmod(hash(col("c_custkey"), lit(7)), lit(distinctKeys)).cast("long"))
          .otherwise(col("c_custkey") + lit(2000000000L)))
      .withColumn("c_name", concat(lit("Customer#"),
        lpad(pmod(col("ident") * 2654435761L, lit(1000000000L)).cast("string"), 9, "0")))
      .withColumn("c_nationkey", pmod(hash(col("ident")), lit(25)))
      .select("c_custkey", "c_name", "c_nationkey")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")

    // serve=true runs the SERVE/BUILD bucketed shapes instead of the
    // document-dedup battery: s8's r16 catch proved the fixed-bucket
    // flaw class recurs in structures the d2–d17 battery never touches,
    // so each bucketed serve gets its own collapsed-cohort cell — s2 LSH
    // buckets, s3/s7 IVF cells, d19b's postings-capped prefix serve, and
    // the m4/m6/m8 fingerprint band joins/windows (m7 itself is proven).
    // Expected shapes at degenerate density: s2/s3/s7 serve a FIXED query
    // block against one storm bucket/cell (|Q|·bucket, linear in n);
    // d19b's postings cap bounds join rows at docs·R·C; m4/m6/m8 are
    // per-key windows/aggregates plus star-edge CC (linear edges). A
    // timeout or superlinear wall here means a cap stopped binding.
    val probes =
      if (serve) Seq("s2_lsh_topk", "s3_ivf_topk", "s7_incremental_ivf",
        "d19b_top_setsim", "m4_frame_dedup", "m6_perceptual_dedup", "m8_crossmodal_dedup")
      else Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d5_simhash_pairs",
        "d6_embedding_neardup", "d17_record_linkage")
    val tag = if (serve) "cohort-serve" else "cohort"
    val results = probes.map { q =>
      val fn = SparkEntry.queries(q)
      val status = classifyConstruction { fn(spark, outDir); () }
      Materialize.releaseAll()
      val cell = status match {
        case Left((st, msg)) =>
          System.err.println(s"[$tag] $q ${st.toUpperCase}: $msg")
          s""""$q":{"status":"$st","detail":"${msg.replace("\"", "'")}"}"""
        case Right(()) =>
          val r = time(spark, outDir, q, fn, reps = 2)
          Materialize.releaseAll()
          System.err.println(f"[$tag] $q%-22s ${r.map(_._1).getOrElse(Double.NaN)}%8.2fs rows=${r.map(_._2).getOrElse(-1L)}")
          r match {
            case Some((sec, rows)) => s""""$q":{"status":"ok","sec":$sec,"rows":$rows}"""
            case None => s""""$q":{"status":"timeout_or_failed"}"""
          }
      }
      cell
    }
    val metric = if (serve) "cohort_serve_probe" else "cohort_probe"
    val line = s"""{"metric":"$metric","n_rows":$nRows,"distinct_keys":$distinctKeys,""" +
      s""""cohort_share_pct":$cohortShare,"queries":${results.mkString("{", ",", "}")},""" +
      s""""excluded_by_contract":["d19_setsim_join"]}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    val outName = if (serve) "target/bench_cohort_serve.json" else "target/bench_cohort.json"
    Files.write(Paths.get(outName), line.getBytes("UTF-8"))
  }

  /** `--segskew [nDocs] [hotPct]`: d15 keep-first-window skew stress — the
    * boilerplate mega-segment case (a cookie-banner/header segment shared
    * by a large fraction of the corpus). The keep-first window partitions
    * by md5(segment), so a segment in hotPct% of docs puts nDocs·hotPct%
    * rows into ONE window partition. The claim under test (d15 Scaladoc):
    * rows are tiny (hash, doc, pos), so even a million-copy segment is
    * one modest partition, not a cliff. Measures the REAL d15 pipeline
    * ([[queries.DedupQueries.segmentRows]] → window → rebuild) on a
    * uniform corpus vs the same corpus with the hot header, at
    * cluster-scale task granularity, and reports the hot-bucket row
    * count alongside both wall-clocks.
    */
  private def segSkew(spark: SparkSession, nDocs: Long, hotPct: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    spark.conf.set("spark.sql.shuffle.partitions", 512) // cluster-scale granularity
    // 40-token docs: a 10-token header (hot: the SAME boilerplate;
    // cold: doc-unique) + 30 doc-unique tokens, all md5-derived
    def body(salt: String) = concat_ws(" ", (0 until 10).map(i =>
      md5(concat(lit(s"$salt$i:"), col("id").cast("string")))): _*)
    def corpus(pct: Int) = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ",
        when(pmod(hash(col("id"), lit(3)), lit(100)) < pct,
          lit((1 to 10).map(i => s"boiler$i").mkString(" "))).otherwise(body("h")),
        body("b"), body("c"), body("d")).as("text"))
    def run(docs: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val marked = queries.DedupQueries.segmentRows(docs, "doc_id")
        .withColumn("rn",
          row_number().over(Window.partitionBy(md5(col("seg"))).orderBy("doc_id", "g")))
        .withColumn("keep", col("rn") === 1)
      queries.DedupQueries.rebuildFromSegments(marked, docs.select("doc_id"), "doc_id")
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    def minOf(docs: org.apache.spark.sql.DataFrame) = (1 to 2).map(_ => run(docs)).min
    val uniform = minOf(corpus(0))
    val hot = minOf(corpus(hotPct))
    val hotRows = nDocs * hotPct / 100
    val line =
      s"""{"metric":"segskew_probe","n_docs":$nDocs,"hot_pct":$hotPct,""" +
      s""""hot_bucket_rows":$hotRows,"uniform_sec":$uniform,"hot_sec":$hot}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_segskew.json"), line.getBytes("UTF-8"))
  }

  /** `--doclen [lenFactor] [baseDir]`: document-LENGTH scale axis. The
    * ×factor probe grows doc COUNT; fixture docs stay short, so everything
    * that explodes per token — t13 bigrams, d10/d15 span and segment
    * relations, v8 chunks, v10's shingle stage — was only ever measured at
    * fixture length. This mode splices each doc with its `lenFactor`
    * ring-neighbors (doc i ← texts of docs i..i+len−1 mod n, order-exact
    * via a struct sort) so tokens-per-doc grow ×lenFactor at constant doc
    * count, then times the explode-heavy t/d/v queries on base vs long.
    * Linear-in-tokens operators should ratio ≈ lenFactor; anything past
    * 2× lenFactor is the finding.
    */
  private def docLen(spark: SparkSession, baseDir: String, lenFactor: Int): Unit = {
    val outDir = s"target/sfprobe/len$lenFactor"
    val out = Paths.get(outDir)
    val marker = out.resolve("_PROBE_OK")
    val stamp = s"doclen v1 len=$lenFactor base=$baseDir"
    if (!(Files.exists(marker) && new String(Files.readAllBytes(marker)) == stamp)) {
      Files.createDirectories(out)
      val n = Tables.rowCountFromFooters(spark, baseDir, "documents")
      val docs = Tables.documents(spark, baseDir)
      docs.select(col("doc_id"), col("lang"), col("source"),
          explode(sequence(lit(0L), lit(lenFactor - 1L))).as("k"))
        .withColumn("src_id", pmod(col("doc_id") + col("k"), lit(n)))
        .join(docs.select(col("doc_id").as("src_id"), col("text")), "src_id")
        .groupBy("doc_id", "lang", "source")
        .agg(expr("array_join(transform(array_sort(collect_list(struct(k, text))), s -> s.text), ' ')")
          .as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      Tables.names.filter(_ != "documents").foreach { t =>
        val link = out.resolve(s"$t.parquet")
        if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
          Files.createSymbolicLink(link, Paths.get(baseDir, s"$t.parquet").toAbsolutePath)
      }
      Files.write(marker, stamp.getBytes("UTF-8"))
    }

    val probeList = Seq(
      "t1_token_stats", "t4_fingerprint", "t8_repetition", "t9_lm_score",
      "t12_bm25", "t13_phrase_search", "d3_minhash_lsh", "d10_span_dedup",
      "d15_segment_dedup", "v6_sequence_pack", "v8_chunk", "v10_pipeline",
      "d19_setsim_join").filterNot(Skip)
    val rows = probeList.map { name =>
      val fn = SparkEntry.queries(name)
      val base = time(spark, baseDir, name, fn, reps = 2)
      Materialize.releaseAll()
      val long = time(spark, outDir, name, fn, reps = 2)
      Materialize.releaseAll()
      println(f"[doclen] $name%-22s base=${base.map(_._1).getOrElse(Double.NaN)}%7.2fs " +
        f"len$lenFactor=${long.map(_._1).getOrElse(Double.NaN)}%7.2fs " +
        f"ratio=${(for (b <- base; l <- long) yield l._1 / b._1).getOrElse(Double.NaN)}%6.2f")
      (name, base, long)
    }
    val qjson = rows.map { case (name, b, l) =>
      val ratio = for (bb <- b; ll <- l) yield ll._1 / bb._1
      s""""$name":{"base":${b.map(_._1).getOrElse(-1.0)},"long":${l.map(_._1).getOrElse(-1.0)},""" +
        s""""ratio":${ratio.getOrElse(-1.0)}}"""
    }.mkString("{", ",", "}")
    val superlinear = rows.collect {
      case (n, Some((bt, _)), Some((lt, _))) if lt / bt > lenFactor * 2.0 && lt > 2.0 =>
        "\"" + n + "\""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"doclen_probe","len_factor":$lenFactor,"base":"$baseDir",""" +
      s""""queries":$qjson,"superlinear":$superlinear}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_doclen.json"), line.getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--doclen")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-doclen"))
      val lenFactor = if (args.length > 1) args(1).toInt else 10
      val base = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      docLen(spark, base, lenFactor)
      spark.stop(); return
    }
    if (args.headOption.contains("--dfskew")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-dfskew"))
      val nDocs = if (args.length > 1) args(1).toLong else 100000L
      val hotPct = if (args.length > 2) args(2).toInt else 20
      dfSkew(spark, nDocs, hotPct)
      spark.stop(); return
    }
    if (args.headOption.contains("--cohort") || args.headOption.contains("--cohortserve")) {
      val serve = args.headOption.contains("--cohortserve")
      val spark = GraftSession.prepare(GraftSession.local("graft-cohort"))
      val n = if (args.length > 1) args(1).toLong else 500000L
      val k = if (args.length > 2) args(2).toInt else 150
      val out = if (args.length > 3) args(3)
        else if (serve) "target/sfprobe/cohortserve" else "target/sfprobe/cohort"
      cohortProbe(spark, n, k, out, serve)
      spark.stop(); return
    }
    if (args.headOption.contains("--segskew")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-segskew"))
      val nDocs = if (args.length > 1) args(1).toLong else 2000000L
      val hotPct = if (args.length > 2) args(2).toInt else 50
      segSkew(spark, nDocs, hotPct)
      spark.stop(); return
    }
    if (args.headOption.contains("--bpedepth")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-bpedepth"))
      val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val factor = if (args.length > 2) args(2).toInt else 100
      val out = if (args.length > 3) args(3) else s"target/sfprobe/x$factor"
      bpeDepth(spark, base, factor, out)
      spark.stop(); return
    }
    if (args.headOption.contains("--distbpe")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-distbpe"))
      val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val factor = if (args.length > 2) args(2).toInt else 100
      val rounds = if (args.length > 3) args(3).toInt else 128
      val out = if (args.length > 4) args(4) else s"target/sfprobe/x$factor"
      distBpeDepth(spark, base, factor, rounds, out)
      spark.stop(); return
    }
    if (args.headOption.contains("--maint")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-maint"))
      val base = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val factor = if (args.length > 2) args(2).toInt else 100
      val out = if (args.length > 3) args(3) else s"target/sfprobe/x$factor"
      maintProbe(spark, base, factor, out)
      spark.stop(); return
    }
    if (args.headOption.contains("--zipfskew")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-zipfskew"))
      val nEdges = if (args.length > 1) args(1).toLong else 5000000L
      val hubs = if (args.length > 2) args(2).toInt else 1000
      zipfSkew(spark, nEdges, hubs)
      spark.stop(); return
    }
    if (args.headOption.contains("--pairstats")) {
      val spark = GraftSession.prepare(GraftSession.local("graft-pairstats"))
      args.drop(1).foreach(d => pairStats(spark, d))
      spark.stop(); return
    }
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val outDir = if (args.length > 2) args(2) else s"target/sfprobe/x$factor"
    val spark = GraftSession.prepare(GraftSession.local("graft-scale-probe"))

    synthesize(spark, baseDir, outDir, factor)

    val probed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => Families.contains(name.head) && !Skip(name) }

    // JIT/codegen warmup at the smallest SF so base timings are steady-state
    probed.foreach { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count() catch {
        case t: Throwable =>
          System.err.println(s"[probe] warmup $name FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }
    Materialize.releaseAll()

    val rows = probed.map { case (name, fn) =>
      val base = time(spark, baseDir, name, fn, reps = 2)
      Materialize.releaseAll()
      val scaled = time(spark, outDir, name, fn, reps = 2)
      Materialize.releaseAll()
      println(f"[probe] $name%-22s base=${base.map(_._1).getOrElse(Double.NaN)}%7.2fs " +
        f"x$factor=${scaled.map(_._1).getOrElse(Double.NaN)}%7.2fs " +
        f"ratio=${(for (b <- base; s <- scaled) yield s._1 / b._1).getOrElse(Double.NaN)}%6.2f " +
        f"rows=${base.map(_._2).getOrElse(-1L)}->${scaled.map(_._2).getOrElse(-1L)}")
      (name, base, scaled)
    }

    val qjson = rows.map { case (name, b, s) =>
      val ratio = for (bb <- b; ss <- s) yield ss._1 / bb._1
      s""""$name":{"base":${b.map(_._1).getOrElse(-1.0)},"scaled":${s.map(_._1).getOrElse(-1.0)},""" +
        s""""ratio":${ratio.getOrElse(-1.0)},"rows_base":${b.map(_._2).getOrElse(-1L)},""" +
        s""""rows_scaled":${s.map(_._2).getOrElse(-1L)}}"""
    }.mkString("{", ",", "}")
    val failed = rows.collect { case (n, b, s) if b.isEmpty || s.isEmpty => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    // flag anything growing faster than BOTH the data factor and its own
    // output growth (2x headroom for the noisy host; sub-second baselines
    // make small ratios meaningless)
    val superlinear = rows.collect {
      case (n, Some((bt, bn)), Some((st, sn)))
          if st / bt > factor * 2.0 && st > 2.0 &&
             st / bt > 2.0 * (sn.toDouble / math.max(1L, bn)) => "\"" + n + "\""
    }.mkString("[", ",", "]")
    val total = rows.flatMap(_._3.map(_._1)).sum
    val line = s"""{"metric":"sf_probe_total","value":$total,"unit":"sec","factor":$factor,""" +
      s""""base":"$baseDir","scaled":"$outDir","queries":$qjson,"failed":$failed,""" +
      s""""superlinear":$superlinear}"""
    println(line)
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/bench_sf1.json"), line.getBytes("UTF-8"))
    spark.stop()
  }
}
