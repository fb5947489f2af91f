package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

/** Structured-Streaming slice (SURVEY §2.10 T3-T6) over the `events`
  * table: event-time tumbling windows with a watermark, session windows,
  * and stateful dedup-within-watermark.
  *
  * Execution model: `readStream` over the parquet file source with
  * `Trigger.AvailableNow` — processes everything currently available in
  * micro-batches, runs the trailing no-data batch so the watermark
  * advances and stateful operators flush, then terminates. That makes the
  * runs deterministic and driver-checkable while exercising the exact
  * code path an unbounded deployment uses (swap the trigger and the same
  * query runs forever; state lives in the checkpoint, keyed and scaled by
  * the grouping key).
  *
  * The nanosecond `ts` ingests exactly like the batch path
  * ([[graft.core.Tables.load]]): long nanos → truncated micros.
  */
object StreamOps {

  /** streaming view of events with event-time `ts` (micros).
    *
    * The file-stream source requires a DIRECTORY to monitor; the fixture
    * is a single parquet file, so it is staged once into a per-sf temp
    * directory via symlink (a real deployment points this at the landing
    * directory new files arrive in).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = fileStream(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // long nanos -> truncated micros (Tables.load twin)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall-clock -> UTC instant (exact: session TZ is UTC);
        // event-time watermarks require TIMESTAMP, not NTZ
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** streaming view of any sf table (the documents corpus included):
    * same staging trick, schema inferred from a batch read of the file.
    *
    * The table path may be a single parquet FILE (the raw fixture
    * layout) or a DIRECTORY of part files (the staged/partitioned
    * layout a real writer produces). The file-stream source monitors
    * the staged directory's top level and does NOT traverse a
    * symlinked subdirectory — linking the directory wholesale makes
    * the stream silently read ZERO rows (the r10 finding: every
    * streaming bench number was an empty-stream time). So a directory
    * target is staged by linking each contained data file
    * individually, exactly what a landing-zone ingest does
    * (files arrive flat; StreamSpec pins stream-count == batch-count
    * on a multi-file fixture).
    */
  def fileStream(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    import java.nio.file.{Files, Path, Paths}
    val path = Paths.get(s"$dir/$table.parquet")
    val staged = Paths.get(
      s"/tmp/graft_stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}_$table")
    Files.createDirectories(staged)
    // self-heal a previously-staged dir: drop broken links (restaged
    // fixture) and directory links (the pre-fix wholesale-dir staging)
    locally {
      val it = Files.list(staged)
      try it.forEach { p =>
        if (Files.isSymbolicLink(p) &&
          (!Files.exists(p) || Files.isDirectory(p))) Files.delete(p)
      } finally it.close()
    }
    def linkIn(target: Path, name: String): Unit = {
      val link = staged.resolve(name)
      // idempotent link-in (r11 advice): concurrent processes sharing
      // the staging dir race check-then-create — the loser's create
      // throws on a link the winner just made, which is success
      if (!Files.exists(link))
        try Files.createSymbolicLink(link, target)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    if (Files.isDirectory(path)) {
      val it = Files.list(path)
      try it.filter(p => {
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }).forEach(p => linkIn(p, s"${table}_${p.getFileName}"))
      finally it.close()
    } else linkIn(path, s"$table.parquet")
    val schema = spark.read.parquet(path.toString).schema
    spark.readStream.schema(schema).parquet(staged.toString)
  }

  /** spill dirs pending exit-time deletion: ONE shutdown hook drains
    * the queue (a hook per call accumulated thread objects without
    * bound in a long-lived session)
    */
  private val spillDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val spillHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = spillDirs.poll()
      while (p != null) { rmTree(p); p = spillDirs.poll() }
    }))
  }
  private def rmTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    rm(p.toFile)
  }

  /** fast checkpoint root: state-store commits and offset logs fsync every
    * micro-batch, so checkpoint placement is a first-order streaming cost —
    * tmpfs locally; on a cluster this is the fast-DFS checkpoint volume
    */
  def checkpointDir(name: String): String = {
    val root = if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get("/dev/shm"))) "/dev/shm" else "/tmp"
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(root), s"graft-ckpt-$name-")
    // recursive delete at JVM exit — `File.deleteOnExit` silently
    // no-ops on a non-empty directory, which leaked every checkpoint
    // and CC spill file (preferentially into RAM-backed /dev/shm)
    // until reboot. The returned frames read these files lazily, so
    // eager deletion is not safe before exit: the exit hook is the one
    // drain.
    spillHook
    spillDirs.add(d)
    d.toString
  }

  /** state-store parallelism for the stateful streams: one state store
    * per shuffle partition, so size it to the KEY cardinality (hundreds
    * of users/tables at sf scale), not the batch parallelism default.
    * At deployment scale this is the statefulOperator partitioning knob,
    * set per stream — the amplified bench points (k× the users, k× the
    * join state) raise it via SPARK_GRAFT_STREAM_PARTS the same way a
    * deployment would size state stores to its key space.
    */
  private def streamParts: String = {
    // validated eagerly (r15 ADVICE): a non-numeric/non-positive value
    // would otherwise surface only deep inside streaming query planning
    val raw = sys.env.get("SPARK_GRAFT_STREAM_PARTS")
    raw match {
      case None => "4"
      case Some(s) => s.toIntOption.filter(_ > 0) match {
        case Some(n) => n.toString
        case None => throw new IllegalArgumentException(
          s"SPARK_GRAFT_STREAM_PARTS must be a positive integer, got '$s'")
      }
    }
  }

  /** run a streaming frame to completion into a memory sink, return the
    * materialized result (driver-side table of the sink — small aggregate
    * output only; the heavy lifting stays distributed)
    */
  def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", streamParts)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", checkpointDir(name))
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }

  /** T3+T4 — tumbling 1-hour event-time windows with a 1-hour watermark,
    * counts per (window, event_type). Complete mode: every window in the
    * result (the batch-equivalent answer), late data beyond the watermark
    * would be dropped in an unbounded run.
    */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()
    runToTable(agg, "st_tumbling", "complete")
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("count").as("n"))
  }

  /** T3 sliding variant — 1-hour windows sliding every 15 minutes
    * (each event contributes to 4 overlapping windows), counts per
    * (window, event_type) with watermarked event time.
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .count()
    runToTable(agg, "st_sliding", "complete")
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("count").as("n"))
  }

  /** T5 — 30-minute session windows per user (append mode: only sessions
    * FINALIZED by the advancing watermark are emitted — sessions still
    * open at end-of-input stay in state; the oracle applies the same
    * closure rule).
    */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count()
    runToTable(agg, "st_sessions", "append")
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("count").as("n"))
  }

  /** T3 + stream-static enrichment: the event stream joins a BROADCAST
    * static dimension (event_type → category) BEFORE the windowed
    * aggregation — the stateless enrichment join every streaming
    * deployment runs (dimension lives on the executors, no state store,
    * no stream-stream watermark bookkeeping). Value totals are summed in
    * exact DECIMAL and cast to double at the end, the same cross-engine
    * discipline as the batch money aggregates.
    */
  def enrichedCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("signup", "acquisition"), ("purchase", "revenue"),
      ("error", "reliability")).toDF("event_type", "category")
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "1 hour"), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    runToTable(agg, "st_enriched", "complete")
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("category"), col("n"),
        col("total_value"))
  }

  /** stream-STREAM inner interval join (the attribution join every
    * event pipeline runs): each click joins the same user's purchases
    * within [click_ts, click_ts + 30 min]. Both sides carry watermarks
    * and the join condition bounds event time in BOTH directions, so the
    * state store evicts rows as the watermark advances — bounded state on
    * an unbounded run (state per side ≈ one watermark-window of rows,
    * keyed and partitioned by user_id). Inner-join output with
    * AvailableNow is the exact batch interval-join answer, which is what
    * the oracle computes.
    */
  def clickPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
    runToTable(joined.select(col("user_id"), col("click_id"),
      col("click_ts"), col("purchase_id"), col("purchase_ts"),
      col("value")), "st_click_purchase", "append")
  }

  /** T6 — stateful dedup within the watermark on (user_id, event_type):
    * emits each distinct key once; output is the distinct key set, which
    * is deterministic regardless of arrival order.
    */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToTable(deduped, "st_dedup", "append")
  }

  /** in-flight corpus cleaning — the batch PII-redaction expressions
    * ([[graft.llm.TextOps.redactPii]]) applied unchanged to a streaming
    * read of the documents landing directory. Stateless append: no
    * watermark, no state store — each micro-batch is a pure codegen'd
    * map, so an unbounded deployment redacts at scan throughput and the
    * same code serves both batch backfill (x29) and the live stream.
    */
  def cleanDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = fileStream(spark, dir, "documents")
    val redacted = graft.llm.TextOps.redactPii(
      graft.llm.TextOps.injectDemoPii(docs))
    runToTable(redacted, "st_clean_docs", "append")
  }

  /** in-flight fuzzy decontamination — the streaming twin of
    * [[graft.llm.Dedup.fuzzyDecontam]]: incoming documents are flagged
    * when they LSH-collide with a STATIC benchmark/eval reference set
    * (here the `doc_id % 10 == 0` slice, computed batch-side once).
    * The stream side's MinHash signature runs entirely IN-ROW
    * ([[graft.llm.Dedup.bandsInRow]] — array expressions, bit-identical
    * band keys to the grouped batch path), so the stream stays
    * STATELESS: no watermark, no state store, just a per-row map +
    * a broadcast stream-static equi-join on (band, bh). An unbounded
    * deployment gates at scan throughput and re-broadcasts when the
    * reference set changes. Output: one row per (incoming doc, band
    * collision, eval doc) — the append-mode-deterministic multiset
    * (per-doc rollup is the consumer's batch-side count, x36's shape).
    */
  def decontamGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    val ref = Dedup.bandsInRow(
        graft.core.Tables.load(spark, dir, "documents")
          .filter(col("doc_id") % 10 === 0))
      .select(col("band"), col("bh"), col("doc_id").as("eval_id"))
    decontamGateStreamWith(spark, dir, ref, "st_decontam_gate")
  }

  /** st09 off the STORED band index — the production entry point (the
    * `takedownPropagateWithClusters` discipline, r11 verdict task 5):
    * `index` is the (band, bh, eval_id) artifact a deployment
    * materializes once per eval-set release; starting the gate costs
    * one broadcast of that KB-sized frame, never a minhash rebuild.
    * The in-stream plan is identical to [[decontamGate]]'s —
    * bandsInRow projection + broadcast join — so the two are row-equal
    * by construction (spec-pinned in StreamArtifactSpec).
    */
  def decontamGateStreamWith(spark: SparkSession, dir: String,
      index: DataFrame,
      sinkName: String = "st_decontam_gate_stored"): DataFrame = {
    import graft.llm.Dedup
    val ref = index.select(col("band"), col("bh"), col("eval_id"))
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    val hits = Dedup.bandsInRow(incoming)
      .join(broadcast(ref), Seq("band", "bh"))
      .select(col("doc_id"), col("band"), col("bh"), col("eval_id"))
    runToTable(hits, sinkName, "append")
  }

  /** the PER-DOC FLAG form of the decontamination gate — the shape that
    * survives duplication-heavy scale (r13 ×100 finding): the collision
    * LISTING's output is (incoming copies × eval copies) rows — it
    * scales with duplication² BY ITS SEMANTICS and killed the ×100
    * driver sink at ~10⁸ rows — while this gate emits each flagged
    * doc_id ONCE, so output (and the downstream quarantine join) stays
    * doc-sized at any duplication factor. In-stream plan: the same
    * in-row signatures + a stream-static broadcast LEFT-SEMI join on
    * the index's distinct (band, bh) keys (no eval_id fan-out at all),
    * then `dropDuplicates(doc_id)` collapses a doc's multi-band hits.
    * The dedup state is keyed on FLAGGED docs only — contamination-
    * sized; a deployment bounds it with an ingest-time watermark
    * (`dropDuplicatesWithinWatermark`), the st03 discipline.
    */
  def decontamFlagStreamWith(spark: SparkSession, dir: String,
      index: DataFrame,
      sinkName: String = "st_decontam_flag_stored"): DataFrame = {
    import graft.llm.Dedup
    val ref = index.select(col("band"), col("bh")).distinct()
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    val flagged = Dedup.bandsInRow(incoming)
      .join(broadcast(ref), Seq("band", "bh"), "left_semi")
      .select(col("doc_id"))
      .dropDuplicates("doc_id")
    runToTable(flagged, sinkName, "append")
  }

  /** st10 — batch-fit, stream-score: DSIR importance weights fit ONCE
    * on the static corpus ([[graft.llm.TextOps.dsirRatios]]), then
    * every incoming raw document scores in-flight — the train/serve
    * composition a crawl-ingest pipeline runs on new shards. The
    * fitted ratios are a constant-folded literal, so the streaming
    * plan has NO stateful operator, no state store, and no join: each
    * micro-batch is one codegen projection (the st08/st09 discipline),
    * and the model refreshes by restarting the query with re-fit
    * ratios.
    */
  def dsirGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextOps
    val ratios = TextOps.dsirRatios(
      graft.core.Tables.load(spark, dir, "documents"))
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % TextOps.DsirTargetMod =!= 0)
    runToTable(TextOps.dsirScore(incoming, ratios), "st_dsir_gate",
      "append")
  }

  /** st11 — the streaming twin of x50's incremental ingest gate, closing
    * the production loop: the batch side builds the corpus
    * [[graft.llm.Dedup.bandKeyIndex]] ONCE (in deployment: loaded from
    * parquet, re-broadcast when the corpus grows), and new documents
    * stream through a STATELESS near-dup check against it — in-row band
    * signatures ([[graft.llm.Dedup.bandsInRow]], bit-identical to the
    * grouped batch path), one broadcast equi-join on (band, bh), no
    * watermark, no state store. Emits the colliding band rows
    * (doc_id, band, bh) — the append-mode-deterministic multiset, st09's
    * shape; the consumer's batch-side rollup of distinct doc_ids is the
    * drop list (x50's `dup_vs_corpus` exactly). In-batch duplicates are
    * deliberately out of streaming scope (they need per-doc state); the
    * batch [[graft.llm.Dedup.incrementalDedup]] covers them per ingest.
    */
  def ingestDedupGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Dedup
    val index = Dedup.bandKeyIndex(
      graft.core.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 =!= 0))
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val hits = Dedup.bandsInRow(incoming)
      .join(broadcast(index), Seq("band", "bh"), "left_semi")
      .select(col("doc_id"), col("band"), col("bh"))
    runToTable(hits, "st_ingest_dedup_gate", "append")
  }

  /** st12 — the EMBEDDING ingest gate, closing the vector loop the way
    * st11 closes the text loop: the batch side builds the corpus's
    * hyperplane band-key set ([[graft.llm.Similarity.vecBandKeys]] —
    * nBands · 2^bitsPerBand rows max, corpus-size-independent; in
    * deployment the [[graft.llm.Similarity.buildVecBandIndex]] artifact
    * reloaded from parquet), and new vectors stream through a STATELESS
    * collision check: the in-row band projection
    * ([[graft.llm.Similarity.vecBandRows]] is pure array expressions —
    * bit-identical batch/stream), one broadcast equi-join on
    * (band, bucket), no watermark, no state store. Emits the colliding
    * band rows (vec_id, band, bucket) — st11's shape; the consumer's
    * rollup + exact-cosine verify is the batch-side
    * [[graft.llm.Similarity.embIngestGate]] (x57). Demo 8-bit bands
    * (the x06 geometry) so the near-random toy corpus collides.
    */
  def embIngestGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.{LlmQueries, Similarity}
    val corpus = graft.core.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 =!= 0)
    val keys = Similarity.vecBandKeys(corpus, nBands = LlmQueries.LshBands,
      bitsPerBand = LlmQueries.LshBits, dim = LlmQueries.EmbDim)
    val incoming = fileStream(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
    val hits = Similarity.vecBandRows(incoming,
        nBands = LlmQueries.LshBands, bitsPerBand = LlmQueries.LshBits,
        dim = LlmQueries.EmbDim)
      .join(broadcast(keys), Seq("band", "bucket"), "left_semi")
      .select(col("vec_id"), col("band"), col("bucket"))
    runToTable(hits, "st_emb_ingest_gate", "append")
  }

  /** st13 — the streaming QUALITY gate:
    * [[graft.llm.TextOps.qualityGate]] (x26's one shuffle-free
    * projection after the round-10 restructure) applied unchanged to a
    * streaming read of the documents landing directory. Stateless
    * append (the st08/st10 discipline): no watermark, no state store,
    * no join — each micro-batch is one projection, so an unbounded
    * deployment filters at scan throughput and the same expressions
    * serve batch backfill (x26) and the live ingest stream. The gate's
    * keep/gate_reason columns stream through so the consumer can fork
    * kept docs to the training sink and drops to the audit sink from
    * one pass.
    */
  def qualityGateStream(spark: SparkSession, dir: String): DataFrame = {
    val incoming = fileStream(spark, dir, "documents")
    runToTable(graft.llm.TextOps.qualityGate(incoming),
      "st_quality_gate", "append")
  }

  /** st14 — the streaming BLOOM pre-gate, the third member of the
    * stateless ingest-gate family (st11 text band keys, st12 vector
    * band buckets): the corpus's Bloom position set
    * ([[graft.llm.Dedup.bloomPreGate]]'s filter side — ≤ mBits distinct
    * positions, KB-scale BY DESIGN) is collected once and embedded in
    * the streaming plan as a LITERAL map, so each micro-batch is one
    * pure projection — md5 position arithmetic + k O(1) map lookups per
    * doc, NO join, no state store, no watermark. This is the
    * deployment shape: the bitmap ships with the job (re-deploy to
    * refresh, like st10's fitted ratios), and the stream marks
    * `maybe_dup` at scan throughput; only maybe-dups are forwarded to
    * the exact batch-side check (x64's priced join). Bit-identical to
    * the batch gate's membership logic (same hashU32 seeds, same
    * distinct-position counts).
    */
  def bloomGateStream(spark: SparkSession, dir: String,
      mBits: Int = 65536, kHashes: Int = 3): DataFrame = {
    import graft.llm.Dedup
    graft.functions.BloomProbe.register(spark)
    val corpus = graft.core.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    // the stored bitmap artifact, embedded as the probe literal — the
    // stream side is md5 + ONE native bloom_probe call per row (the
    // batch gate's exact projection, stateless in-flight)
    val words = Dedup.bloomBitmap(corpus, mBits, kHashes)
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val gated = incoming
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .select(col("doc_id"),
        call_function("bloom_probe", col("fp"),
          typedLit(words.toSeq), lit(mBits), lit(kHashes)).as("maybe_dup"))
    runToTable(gated, "st_bloom_gate", "append")
  }

  /** st15 — the streaming TAKEDOWN gate, the refusal-at-ingest half of
    * x67: a doc whose normalized content fingerprint matches a
    * FORGOTTEN doc must not re-enter the corpus, however fresh its id.
    * The forget list's fp set (notice-sized — KBs) is collected once
    * and embedded in the stream plan as a LITERAL map, so each
    * micro-batch marks docs with one O(1) lookup per row: no join, no
    * state store, scan throughput — the fourth stateless ingest gate
    * (st11 band keys / st12 vector bands / st14 Bloom positions / this).
    * Near-dup (cluster) propagation stays batch-side where x67 prices
    * it — the same exact/approximate split as x64 vs st14.
    */
  def takedownGateStream(spark: SparkSession, dir: String,
      forgetMod: Long = 41L): DataFrame = {
    def norm = regexp_replace(lower(col("text")), " +", " ")
    val forgetFps: Seq[String] = graft.core.Tables
      .load(spark, dir, "documents")
      .filter(col("doc_id") % forgetMod === 0)
      .select(md5(norm).as("fp")).distinct()
      .collect().map(_.getString(0)).toSeq
    val fmap = typedLit(forgetFps.map(_ -> true).toMap)
    val gated = fileStream(spark, dir, "documents")
      .select(col("doc_id"), md5(norm).as("fp"))
      .select(col("doc_id"),
        when(element_at(fmap, col("fp")).isNotNull, "forget")
          .otherwise("ingest").as("action"))
    runToTable(gated, "st_takedown_gate", "append")
  }

  /** st17 — streaming takedown with CLUSTER propagation, the stored-
    * cluster broadcast half st15's content match leaves open (closing
    * the x67 loop the way st11 closed x50's): the batch side reads the
    * STORED dedup cluster assignment ([[graft.llm.Dedup.dupClusters]] —
    * in deployment the parquet artifact the dedup pass already wrote),
    * resolves the clusters touched by the forget list with two
    * delta-proportional semi-joins, and pins the member doc_ids of
    * those clusters into the stream as a literal map — bounded by
    * |forget list| × avg cluster size, NOT corpus size. Every incoming
    * document then gates through ONE stateless codegen projection: a
    * member of any forgotten cluster (the near-dups x67 labels
    * `cluster`, the forgotten originals themselves included) refuses
    * with `forget`, everything else ingests — no watermark, no state
    * store, no join. Refresh = restart with the re-resolved set, the
    * st10/st15 discipline.
    */
  def takedownClusterGateStream(spark: SparkSession, dir: String,
      forgetMod: Long = 41L): DataFrame =
    takedownClusterGateStreamWith(spark, dir,
      graft.llm.Dedup.dupClusters(
        graft.core.Tables.load(spark, dir, "documents")),
      forgetMod, "st_takedown_cluster_gate")

  /** st17 off the STORED cluster assignment — the production entry
    * point (r11 verdict task 5): `clusters` is the (doc_id, cluster_id)
    * dedup artifact the deployment already materializes; resolving a
    * takedown notice to its member-id literal costs two
    * delta-proportional semi-joins over the artifact, never a
    * [[graft.llm.Dedup.dupClusters]] rebuild. The forget list derives
    * from the assignment itself (it covers every corpus doc), and the
    * in-flight plan is the same stateless literal-map projection as the
    * demo path — row-equal by construction, spec-pinned.
    */
  def takedownClusterGateStreamWith(spark: SparkSession, dir: String,
      clusters: DataFrame, forgetMod: Long = 41L,
      sinkName: String = "st_takedown_cluster_gate_stored"): DataFrame = {
    val forget = clusters.filter(col("doc_id") % forgetMod === 0)
      .select(col("doc_id"))
    val badClusters = clusters.join(forget, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val badDocs: Seq[Long] = clusters
      .join(broadcast(badClusters), Seq("cluster_id"), "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val bmap = typedLit(badDocs.map(_ -> true).toMap)
    val gated = fileStream(spark, dir, "documents")
      .select(col("doc_id"),
        when(element_at(bmap, col("doc_id")).isNotNull, "forget")
          .otherwise("ingest").as("action"))
    runToTable(gated, sinkName, "append")
  }

  /** st18 — the streaming BUDGET gate, x74's train/serve composition
    * (the st10 discipline applied to budget selection): the batch side
    * fits the token-budget cut on the reference corpus —
    * [[graft.llm.Sampling.budgetSelect]]'s greedy prefix ends at a
    * marginal (quality_score, doc_id) pair, collected as TWO literals —
    * and every incoming document gates through one stateless codegen
    * projection: score computed in-flight, `train` iff it beats the
    * marginal doc in greedy order (strictly better score, or equal
    * score and id ≤ the marginal id — the deployment reading: "at
    * least as good as the last doc the budget admitted"). No state
    * store, no join; re-fit = restart with fresh literals.
    */
  def budgetGateStream(spark: SparkSession, dir: String,
      budgetFrac: Double = graft.llm.Sampling.BudgetFrac): DataFrame = {
    import graft.llm.{Sampling, TextOps}
    val fit = Sampling.budgetSelect(
        graft.core.Tables.load(spark, dir, "documents"), budgetFrac)
      .filter(col("kept"))
      .orderBy(col("quality_score").asc, col("doc_id").desc)
      .limit(1).collect()
    val gated =
      if (fit.isEmpty) {
        // zero-budget fit: nothing is ever admitted
        fileStream(spark, dir, "documents")
          .select(col("doc_id"), lit("skip").as("action"))
      } else {
        val sCut = fit(0).getAs[Double]("quality_score")
        val idCut = fit(0).getAs[Long]("doc_id")
        val score = TextOps.qualityScoreCols(col("text"))._3
        fileStream(spark, dir, "documents")
          .select(col("doc_id"), score.as("s"))
          .select(col("doc_id"),
            when(col("s") > sCut ||
                (col("s") === sCut && col("doc_id") <= idCut), "train")
              .otherwise("skip").as("action"))
      }
    runToTable(gated, "st_budget_gate", "append")
  }

  /** st16 — the streaming DRIFT monitor, x54's live twin: the reference
    * slice's head vocabulary (top-`headK` tokens by count, tie-broken
    * tok-asc — the deterministic `TakeOrderedAndProject` cut) is fit
    * once batch-side and pinned into the stream as a K-sized literal,
    * and the incoming corpus streams through ONE bounded complete-mode
    * aggregation: explode → head-token filter → per-token count, so the
    * state store holds AT MOST K keys regardless of corpus size — the
    * drift monitor a crawl-ingest deployment leaves running against
    * each new shard. The K-row final counts then merge with the pinned
    * reference counts (zero-count head tokens included via the left
    * join) and the x54 chi-square contribution prices each token's
    * deviation from the expected proportional split — same fixed-order
    * double arithmetic, mirrored op-for-op in the oracle. Alert rule
    * (consumer-side): a head token with chi2 over threshold, or a
    * head-vocab occupancy shift, pages before the corpus ships.
    */
  def driftMonitorStream(spark: SparkSession, dir: String,
      headK: Int = 50): DataFrame = {
    import graft.llm.TextOps
    import spark.implicits._
    val ref = graft.core.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
    val head: Array[(String, Long)] = TextOps.tokens(ref)
      .groupBy(col("tok")).agg(count(lit(1)).as("c_ref"))
      .orderBy(col("c_ref").desc, col("tok").asc).limit(headK)
      .as[(String, Long)].collect()
    val incoming = fileStream(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 1)
    val counts = TextOps.tokens(incoming)
      .filter(col("tok").isin(head.map(_._1).toSeq: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_new"))
    val streamed = runToTable(counts, "st_drift_monitor", "complete")
    val merged = head.toSeq.toDF("tok", "c_ref")
      .join(streamed, Seq("tok"), "left")
      .select(col("tok"), col("c_ref"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val totals = merged.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_new")).as("n_new"))
    val t = (col("c_ref") + col("c_new")).cast("double")
    val dRef = col("c_ref").cast("double") - col("e_ref")
    val dNew = col("c_new").cast("double") - col("e_new")
    // e_new = 0 exactly when the incoming slice contributes zero head-
    // token occurrences (n_new = 0: empty stream, or a shard with no
    // head-vocab overlap) — then c_new = 0 and the 0²/0 contribution is
    // 0, same convention as the batch twin TextOps.corpusDrift.
    // Unguarded, ANSI mode throws DIVIDE_BY_ZERO — the r10 sf0.1 crash.
    def contrib(d: org.apache.spark.sql.Column,
        e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(e > 0d, d * d / e).otherwise(lit(0d))
    merged.crossJoin(broadcast(totals))
      .withColumn("e_ref", t * col("n_ref").cast("double") /
        (col("n_ref") + col("n_new")).cast("double"))
      .withColumn("e_new", t * col("n_new").cast("double") /
        (col("n_ref") + col("n_new")).cast("double"))
      .select(col("tok"), col("c_ref"), col("c_new"),
        (contrib(dRef, col("e_ref")) + contrib(dNew, col("e_new")))
          .as("chi2"))
  }

  /** fixture media_ids below this are the stored catalog; at and above
    * are incoming uploads (shared with the st22 oracle — the
    * interpolated-constant discipline)
    */
  val MediaGateSplit = 13L

  /** st22 — the streaming PERCEPTUAL ingest gate: the media twin of the
    * st19 stored-index decontam gate, closing the x80/x81 production
    * loop. The batch side materializes the catalog's pHash table ONCE
    * ([[graft.llm.Multimodal.imagePhash]] — the stored-artifact
    * discipline); each incoming upload decodes + hashes IN-FLIGHT (the
    * same shuffle-free typed pass the batch extraction uses — the codec
    * is the workload, there is no SQL-expressible shortcut), explodes
    * its 8 hash bands, and probes the broadcast catalog band index by
    * equality; an exact popcount verify keeps hamming-≤τ pairs (exact
    * for τ < nBands — the x81 multi-index guarantee), and a
    * collision-keyed dropDuplicates collapses a pair's multi-band hits
    * (state is collision-sized, the st03/st21 discipline; a deployment
    * bounds it with dropDuplicatesWithinWatermark). One row per
    * (upload, catalog) perceptual collision — the provenance/takedown
    * signal an ingest runs before accepting the re-encoded / retouched
    * re-uploads exact content-md5 gates miss.
    */
  def mediaPhashGateStream(spark: SparkSession, mediaDir: String,
      index: DataFrame, tau: Int = 7,
      sinkName: String = "st_media_phash_gate",
      table: String = "media", split: Long = MediaGateSplit): DataFrame = {
    val nBands = 8
    // the multi-index band probe is only EXACT for tau < nBands (a pair
    // at hamming d < nBands must agree on ≥1 band); past that it silently
    // loses recall — fail fast, mirroring hammingNearDupFrom (r13 ADVICE)
    require(tau >= 0 && tau < nBands,
      s"band probe is exact only for 0 <= tau < $nBands bands; got $tau")
    val bpb = 64 / nBands
    val mask = (1L << bpb) - 1
    def bands(df: DataFrame, idAs: String, phAs: String): DataFrame =
      df.filter(col("phash64").isNotNull)
        .select(col("media_id").as(idAs), col("phash64").as(phAs),
          explode(sequence(lit(0), lit(nBands - 1))).as("band"))
        .withColumn("bucket", expr(s"($phAs >> (band * $bpb)) & ${mask}L"))
    val ref = bands(index, "corpus_id", "cph")
    val incoming = fileStream(spark, mediaDir, table)
      .filter(col("media_id") >= split)
    val hits = bands(graft.llm.Multimodal.imagePhash(incoming),
        "media_id", "uph")
      .join(broadcast(ref), Seq("band", "bucket"))
      .withColumn("hamming", expr("bit_count(uph ^ cph)"))
      .filter(col("hamming") <= tau)
      .select(col("media_id"), col("corpus_id"), col("hamming"))
      .dropDuplicates("media_id", "corpus_id")
    runToTable(hits, sinkName, "append")
  }

  /** st23 — the streaming MEDIA QUALITY gate: x88's decode +
    * first-failing-rule projection applied unchanged to a media
    * file-stream (the st13 discipline — the batch operator IS the
    * stream operator, oracle string shared verbatim so the two
    * surfaces cannot drift). Stateless: no join, no watermark, no
    * state store — each micro-batch is one typed decode pass + one
    * codegen CASE projection, gating uploads at scan throughput
    * before they ever land in the corpus.
    */
  def mediaQualityGateStream(spark: SparkSession, mediaDir: String,
      sinkName: String = "st_media_quality_gate",
      table: String = "media"): DataFrame =
    runToTable(graft.llm.Multimodal.mediaQualityGate(
      fileStream(spark, mediaDir, table)), sinkName, "append")
}
