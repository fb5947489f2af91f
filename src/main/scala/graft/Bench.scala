package graft

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.sql.DataFrame

import graft.QueryMetrics.Run

/** Per-round benchmark main.
  *
  *   - builds the session via [[graft.core.GraftSession]] (events' nanos
  *     timestamps + UTC come from there, not re-derived here) at
  *     [[Bench.benchCores]];
  *   - the action is a `noop`-format write, so Catalyst cannot prune the
  *     projections/windows the way `.count()` allowed;
  *   - timing runs through [[Sweep]]: the start-load gate, then one
  *     warm-up run and 3 interleaved sweeps per query, each run in its own
  *     CacheScope and QueryMetrics group. Each query reports its median
  *     and min wall, and its min task time, stages, CPU, jobs, shuffle and
  *     spill across sweeps;
  *   - failures are reported per query (`"failed"` list + null-free
  *     timings) instead of being swallowed as fake timings, and the
  *     process exits nonzero if anything failed;
  *   - the JSON lines ([[Bench.Line]]) take their keys from one ordered
  *     list ([[Bench.Report.fields]]); bench_out.json is rewritten after
  *     every pass, and build.sbt sets `run / outputStrategy :=
  *     StdoutOutput` so sbt does not decorate the printed lines into
  *     unparsability.
  *
  * The sf tables are STAGED (untimed) into a multi-file copy under /tmp
  * before timing: the driver-generated parquet carries ONE row group per
  * table, capping every scan at one task regardless of
  * `maxPartitionBytes`. Disable with SPARK_GRAFT_STAGE=0 to measure the
  * raw single-row-group layout.
  *
  * The fixture-backed metadata queries (m*, constant-size input) get their
  * own timed section (`m_queries`/`m_total`), excluded from the sf total,
  * which tracks BASELINE.md.
  */
object Bench {

  import SparkEntry.QueryFn

  /** rewrite each sf table as a multi-file parquet copy; returns the
    * staged dir. Events' ns-as-long column passes through as written
    * (Tables.load converts by schema, not by path).
    *
    * The staged copy is a pure function of the (static) sf dir, so an
    * existing staging is REUSED via the same `.staged` marker contract
    * as the amplified path — unconditional re-staging made two
    * concurrent bench invocations race (one overwrote part files the
    * other was reading: 112 FILE_NOT_EXIST failures in one r11 run)
    * and re-paid the copy on every targeted run. `SPARK_GRAFT_RESTAGE=1`
    * forces a rewrite after the fixture data changes.
    */
  /** write-into-unique-temp + atomic rename + marker, shared by both
    * staging modes (r11 advice): the steady-state `.staged` marker only
    * fixed re-stage races — two COLD starts could still interleave
    * overwrite writes into the same final dir and pin the mix as valid.
    * Now each invocation writes into its own pid-suffixed temp dir
    * (marker INSIDE, so the rename publishes data + marker atomically)
    * and renames into place; a cold-start loser discards its complete
    * copy and reuses the winner's — on EVERY path (r12 advice): the
    * winner's marker is re-checked immediately before any rmTree of
    * the target, so a loser can no longer delete a just-published
    * complete staging that a concurrent run may already be reading,
    * and the retry move sits inside the same marker-checking loop.
    * `SPARK_GRAFT_RESTAGE=1` opts out of the loser-defers rule (the
    * caller explicitly wants a rewrite; concurrent restagers are
    * documented-unsupported).
    */
  private[graft] def stagedAtomically(out: String, force: Boolean = false)(
      write: String => Unit): String = {
    import java.nio.file.{Files, Paths, Path, StandardCopyOption}
    val marker = Paths.get(s"$out/.staged")
    val restage = force || sys.env.get("SPARK_GRAFT_RESTAGE").contains("1")
    if (!restage && Files.exists(marker))
      return out
    def rmTree(p: Path): Unit = {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }
    val outP = Paths.get(out)
    Files.createDirectories(outP.getParent)
    val tmp = Paths.get(out + ".tmp." + ProcessHandle.current().pid())
    rmTree(tmp)
    write(tmp.toString)
    Files.createFile(tmp.resolve(".staged"))

    var published = false
    var attempts = 0
    while (!published && attempts < 5) {
      attempts += 1
      if (!restage && Files.exists(marker)) {
        // a winner published a complete staging while we wrote ours —
        // discard our copy rather than deleting what it may be serving
        rmTree(tmp)
        published = true
      } else {
        // stale partial (no marker) or an explicit restage. Never delete
        // the target in place (r13 ADVICE): a winner can publish a
        // complete staging between the marker check and the delete, and
        // an in-place rmTree rips files from under its readers. Move the
        // obstruction aside atomically, re-check ITS marker, and restore
        // a complete staging that slipped in (unless this is an explicit
        // restage — the caller wants the rewrite); only a verified
        // marker-less partial is deleted, at the trash path.
        val trash = Paths.get(out + ".trash." + ProcessHandle.current()
          .pid() + "." + attempts)
        val moved =
          try { Files.move(outP, trash, StandardCopyOption.ATOMIC_MOVE); true }
          catch {
            case _: java.nio.file.NoSuchFileException => false
            case _: java.nio.file.FileSystemException => false
          }
        if (moved && !restage && Files.exists(trash.resolve(".staged"))) {
          try {
            Files.move(trash, outP, StandardCopyOption.ATOMIC_MOVE)
            rmTree(tmp)
            published = true
          } catch {
            case _: java.nio.file.FileSystemException => rmTree(trash)
          }
        } else if (moved) {
          rmTree(trash)
        }
        if (!published) {
          try {
            Files.move(tmp, outP, StandardCopyOption.ATOMIC_MOVE)
            published = true
          } catch {
            case _: java.nio.file.FileSystemException =>
              () // lost a race — loop re-checks the winner's marker
          }
        }
      }
    }
    require(published, s"could not publish staged dir $out after 5 attempts")
    out
  }

  /** sf-proportional media corpus size: sf × 100k images (+ n/4 WAVs,
    * n/8 clips) — sf0.1 stages 10k/2.5k/1.25k files, so the media
    * family (x80–x91) benches on real decode + search volume instead of
    * the 31-row fixture's job floor (r13 verdict task 7). The staged
    * table carries the authored expected columns ([[llm.MediaCorpus]]),
    * so `tools/bench_duck.py` can race the oracle queries on the SAME
    * staged rows.
    */
  private def mediaN(sfDir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.01)
    math.max(64L, (sf * 100000L).toLong)
  }

  private def stage(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // _p2: staged content is a pure function of (sfDir, THIS recipe) —
    // the partition-count rule changed, so the dir name versions with it
    stageTables(spark, sfDir,
      s"${System.getProperty("java.io.tmpdir")}/graft_bench_staged/${tag}_p2")(
      (_, df) => df)
  }

  /** the staging loop both layouts share: every table of `sfDir` through
    * `transform`, counted, repartitioned by [[stageParts]] and written
    * under `out` with [[stagedAtomically]]'s temp-dir + atomic-rename
    */
  private def stageTables(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, out: String)(
      transform: (String, DataFrame) => DataFrame): String =
    stagedAtomically(out) { tmpDir =>
      core.Tables.names.foreach { t =>
        val df = transform(t, spark.read.parquet(s"$sfDir/$t.parquet"))
        val rows = df.count()
        df.repartition(stageParts(rows)).write.mode("overwrite")
          .parquet(s"$tmpDir/$t.parquet")
      }
    }

  /** the executor parallelism of the harness mains: SPARK_GRAFT_CPUS,
    * else the host core count. Bench, Trace and MediaBench build their
    * `local[N]` session with it, and the staged layout is cut for it.
    */
  private[graft] def benchCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** staged partition count: rows/500 capped at the core count. The
    * former rows/10000 rule left `documents` at sf0.1 in ONE split —
    * and once the per-doc heavy lifting moved INTO the scan stage
    * (native in-row expressions: minhash_bands, winnow_fps, lang_best,
    * dsir_terms), a 1-split scan ran the whole corpus's md5 work on one
    * of 32 cores. A deployment gets this spread for free from its
    * thousands of real input splits; the bench's small staged tables
    * need it written into the layout (parquet files don't split below
    * the row-group floor, so maxPartitionBytes can't do it later).
    */
  private def stageParts(rows: Long): Int =
    math.min(benchCores.toLong, math.max(1L, rows / 500L)).toInt

  /** the media family's query-name shape (x12/x13/x31/x39 media demos +
    * the x80–x91 perceptual family) — used to stage the media table only
    * when a selected query will actually read it
    */
  private[graft] val MediaNames = "^(x12|x13|x31|x39|x8[0-9]|x9[0-3])_".r

  /** stage the generated media table INTO an already-published run dir,
    * under its own atomic marker (media.parquet is written by
    * [[stagedAtomically]], so readers only ever see a complete table).
    * Kept separate from the core staging so amplified runs that never
    * touch media (e.g. an st13-only point at ×30) don't pay a 300k-image
    * generation, and existing core stagings stay valid.
    */
  private def ensureMedia(spark: org.apache.spark.sql.SparkSession,
      runDir: String, n: Long): Unit = {
    val target = s"$runDir/media.parquet"
    // recipe-version guard (r16): the staged dir name carries no
    // version, so a generator change (new media classes, new authored
    // columns) would silently serve stale content forever — a staging
    // whose .recipe stamp mismatches the current generator is
    // force-restaged (same semantics as SPARK_GRAFT_RESTAGE for this
    // one table)
    val recipe = Paths.get(target, ".recipe")
    val stale = Files.exists(Paths.get(target, ".staged")) &&
      (!Files.exists(recipe) ||
        Files.readString(recipe).trim != llm.MediaCorpus.RecipeVersion)
    stagedAtomically(target, force = stale) { tmp =>
      llm.MediaCorpus.write(spark, tmp, n)
    }
    ()
  }

  /** floor-amortization mode (r7 verdict task 3): stage a synthetic
    * k×-amplified copy of the corpus so per-query work outgrows Spark's
    * fixed job-scheduling floor. documents/embeddings are unioned k
    * times with RE-KEYED ids (copy j of row i gets id i·k+j — text and
    * vectors unchanged, so the corpus becomes duplicate-heavy: exactly
    * the workload shape dedup operators exist for, and the DuckDB
    * oracle pays the same candidate blowup). Other tables stage
    * unamplified. Setup is untimed; the same directory feeds the DuckDB
    * timing run (tools/bench_duck.py).
    */
  private def amplifyStage(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, k: Int): String = {
    import org.apache.spark.sql.functions.col
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // the staged content is a pure function of (sfDir, k, THIS recipe):
    // the dir name versions with the recipe (the r12 events
    // amplification made it _v3) and an existing staging is reused
    // unless SPARK_GRAFT_RESTAGE=1 (staging ×30 costs minutes)
    stageTables(spark, sfDir,
      s"${System.getProperty("java.io.tmpdir")}/graft_bench_amplified/${tag}_x${k}_v3") {
      case ("documents", df) =>
        (0 until k).map(j => df.withColumn("doc_id",
          col("doc_id") * k + j)).reduce(_ union _)
      case ("embeddings", df) =>
        (0 until k).map(j => df.withColumn("vec_id",
          col("vec_id") * k + j)).reduce(_ union _)
      case ("lineitem", df) =>
        // q13's input; percentiles/stats need no key rekeying — a
        // plain k-fold union scales the sort/histogram work k×
        (0 until k).map(_ => df).reduce(_ union _)
      case ("events", df) =>
        // the streaming section's input (r11 verdict task 7):
        // re-key user_id (and event_id) so the corpus gains k×
        // users with the same per-user event pattern —
        // sessionization, windows, and the stream-stream join all
        // scale k× while per-user semantics (and the DuckDB twin's
        // work) stay faithful
        (0 until k).map(j => df
          .withColumn("user_id", col("user_id") * k + j)
          .withColumn("event_id", col("event_id") * k + j))
          .reduce(_ union _)
      case (_, df) => df
    }
  }

  /** the headline doc-pipeline queries the amplified mode times — the
    * most expensive queries of BENCH_r07, the round-8 ingest/leakage
    * gates (x50/x53), and every remaining >2×-at-sf0.1 query plus the
    * round-9 vector additions (r9 verdict task 4): quality gate x26,
    * dup-span x41, DSIR x43/x44, percentile sort q13, and the
    * embedding-side x56–x59 (SemDeDup, ingest gate, PQ, recall audit),
    * the round-10 retrieval compositions x62/x63, and the curation trio
    * x66/x67/x68 (classifier, takedown, diverse select)
    */
  private val AmplifySet =
    "^(q13|q36|q37|x02|x03|x16|x21|x22|x23|x26|x30|x33|x36|x38|x41|x43|x44|x50|x53|x56|x57|x58|x59|x61|x62|x63|x64|x65|x66|x67|x68|x69|x71|x72|x73|x74|x75|x76|x77|x78|x79|x81|x83|x85|x86|x88|x91|st07|st21)"

  /** the JSON lines a run writes, each with the format its numbers take */
  private[graft] sealed abstract class Line(val num: Double => String)
  private[graft] object Line {
    /** printed and written to bench_out.json after the warm-up pass and
      * after every sweep, so a timeout at any point leaves the last
      * completed pass's numbers (the warm-up walls stand in until the
      * first sweep) */
    case object Partial extends Line(Json.r3)
    /** bench_out.json at the end: every map, full precision */
    case object File extends Line(_.toString)
    /** the penultimate stdout line: the per-query walls at 1 ms, because
      * the full-precision maps outgrew the ~4 KiB output tail a driver
      * keeps */
    case object Stdout extends Line(Json.r3)
    /** the last stdout line. A driver parses the last complete JSON line
      * inside the last 2000 characters it keeps; 181 query names alone
      * are ~3.3 KB, so this line carries headline scalars only, and its
      * keys must not change. */
    case object Final extends Line(Json.r3)
  }

  /** what one run measured: the warm-up or sweep runs of each live query
    * per section, and the sweep state around them */
  private[graft] final case class Report(sf: collection.Map[String, Seq[Run]],
      m: collection.Map[String, Seq[Run]], failed: collection.Map[String, String],
      leaks: Iterable[String], incomplete: Iterable[String], unmapped: Long,
      gate: Sweep.Gate, loads: Seq[Double], passes: Int, staged: Boolean, amplify: Int,
      sfDir: String, mSelected: Int, fullSelection: Boolean) {

    private def medians(rs: collection.Map[String, Seq[Run]]) =
      rs.toSeq.map { case (n, r) => val s = r.map(_.wallS).sorted; n -> s(s.size / 2) }
    private def mins(rs: collection.Map[String, Seq[Run]]) = rs.toSeq.map { case (n, r) => n -> r.map(_.wallS).min }
    // min across sweeps: stage counts are deterministic (AQE decisions
    // aside); task time and CPU time are the window-insensitive floors a
    // keep/revert adjudication uses, since walls on a shared host swing
    // ±50% with external load
    private def minOf(f: QueryMetrics.Totals => Double) =
      (sf.toSeq ++ m.toSeq).map { case (n, rs) => n -> rs.map(r => f(r.totals)).min }
    val mTotal: Double = medians(m).map(_._2).sum

    /** the m-suite regression guard: the metadata suite is KB-sized, and
      * its regression class (cache substitution over ballooned plans)
      * shows as a section total far above the ~3.5 s healthy floor. A
      * failed m query is itself the signal, so a crash-dropped query
      * cannot let the remaining sum read as ok. */
    val mGuard: String = {
      val fullSuite = mSelected == SparkEntry.queries.keys.count(_.startsWith("m"))
      val mFailed = failed.keys.exists(_.startsWith("m"))
      if (!fullSuite || (m.isEmpty && !mFailed)) "n/a"
      else if (mFailed) "BREACH_failures"
      else if (mTotal <= 6.0) "ok"
      else if (loads.isEmpty || loads.max >= 16.0) "high_load"
      else "BREACH"
    }

    /** the host thermometer: the m-suite is constant-size, so its total
      * gauges host contention. It read 3.3 s on every quiet window and
      * 5.9–12.6 s on loaded ones with no m-code change. */
    private val mFloorRatio = if (m.isEmpty) 0.0 else mTotal / 3.3

    /** a run counts as a round's record only when the full default
      * selection ran, the m-guard and thermometer read quiet (n/a passes
      * only when no m query exists), the start-load gate ran and passed
      * and nothing failed */
    private val canonical = fullSelection &&
      ((mGuard == "ok" && mFloorRatio <= 1.3) ||
        (mGuard == "n/a" && !SparkEntry.queries.keys.exists(_.startsWith("m")))) &&
      gate.verdict == "ok" && failed.isEmpty

    /** every key in output order, the lines that carry it and its value;
      * `num` renders the numbers that follow the line's precision */
    private def fields(num: Double => String): Seq[(String, Set[Line], String)] = {
      import Line._
      val all = Set[Line](Partial, File, Stdout, Final)
      val end = Set[Line](File, Stdout, Final)
      val long = (v: Double) => v.toLong.toString
      Seq(
        ("metric", all, Json.str("total")),
        ("value", all, num(medians(sf).map(_._2).sum)),
        ("unit", all, Json.str("sec")),
        ("partial", Set(Partial), "true"),
        ("passes", Set(Partial), passes.toString),
        ("queries", Set(Partial, File, Stdout), Json.nums(medians(sf), num)),
        ("queries_min", Set(File), Json.nums(mins(sf), num)),
        ("m_queries", Set(File), Json.nums(medians(m), num)),
        ("m_queries_min", Set(File), Json.nums(mins(m), num)),
        ("task_time_s", Set(File), Json.nums(minOf(_.taskWallS))),
        ("stages", Set(File), Json.nums(minOf(_.stages.toDouble), long)),
        ("cpu_s", Set(File), Json.nums(minOf(_.cpuS))),
        ("jobs", Set(File), Json.nums(minOf(_.jobs.toDouble), long)),
        ("shuffle_mb", Set(File),
          Json.nums(minOf(t => (t.shuffleReadBytes + t.shuffleWriteBytes) / 1e6))),
        ("spill_mb", Set(File), Json.nums(minOf(_.spillBytes / 1e6))),
        ("metrics_incomplete", Set(File), Json.strs(incomplete)),
        ("cache_leaks", Set(File), Json.strs(leaks)),
        ("unmapped", Set(File), unmapped.toString),
        ("m_total", all, num(mTotal)),
        ("m_guard", end, Json.str(mGuard)),
        ("load_gate", end, Json.str(gate.verdict)),
        ("start_load", end, Json.r3(gate.startLoad)),
        ("quiet_wait_s", end, gate.quietWaitS.toString),
        ("canonical", end, canonical.toString),
        ("task_time_total_s", end, Json.r3(minOf(_.taskWallS).map(_._2).sum)),
        ("stages_total", end, minOf(_.stages.toDouble).map(_._2).sum.toLong.toString),
        ("m_floor_ratio", end, Json.r3(mFloorRatio)),
        ("total_min", all, num(mins(sf).map(_._2).sum)),
        ("staged", all, staged.toString),
        ("amplify", all, amplify.toString),
        ("load_avg", all, Json.arr(loads.map(Json.r3))),
        ("failed", all, Json.obj(failed.map { case (k, v) => k -> Json.str(v) })),
        ("n_ok", all, (sf.size + m.size).toString),
        ("n_failed", all, failed.size.toString),
        ("sf", all, Json.str(sfDir)),
        ("queries_file", Set(Final), Json.str("bench_out.json")))
    }

    def line(l: Line): String = Json.obj(fields(l.num).collect { case (k, ls, v) if ls(l) => k -> v })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.GraftSession.builder("graft-bench", benchCores.toString)
      // bench-only: memory-sink streams on duplication-heavy amplified
      // corpora collect ~1 GB to the driver; the ENGINE default stays at
      // 1 GB so accidental collects in operators still fail fast
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val doStage = sys.env.getOrElse("SPARK_GRAFT_STAGE", "1") != "0"
    val amplify = sys.env.get("SPARK_GRAFT_AMPLIFY").map(_.toInt)
    val runDir = amplify match {
      case Some(k) => amplifyStage(spark, sfDir, k)
      case None => if (doStage) stage(spark, sfDir) else sfDir
    }

    // optional regex filter for local experiments: SPARK_GRAFT_ONLY=q01|q25;
    // the amplified mode defaults to its headline doc-pipeline set
    val selection = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")
      .orElse(amplify.map(_ => AmplifySet)).getOrElse(""))

    // sf-proportional media table (r13 verdict task 7): staged once
    // (untimed) when a selected query reads it — sf×100k images, ×k in
    // amplified mode (amplified media scales by GENERATION: k× more
    // unique textures at the same 20% planted-variant rate, so near-dup
    // cost grows with real content diversity and the twin pays the same
    // candidate volume). Unstaged runs (SPARK_GRAFT_STAGE=0) keep the
    // fixture fallback — the run dir is the read-only sf dir.
    val mediaSelected = selection.exists { case (n, _) => MediaNames.findFirstIn(n).isDefined }
    if (mediaSelected && runDir != sfDir)
      ensureMedia(spark, runDir, mediaN(sfDir) * math.max(1, amplify.getOrElse(1)))

    // staging above is untimed, so it runs before the gate
    val gate = Sweep.awaitQuiet("bench")
    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    val sweep = new Sweep(spark, metrics, "bench")
    val mQueries = selection.filter(_._1.startsWith("m"))
    var sf, m = collection.Map.empty[String, Seq[Run]]
    var passes = 0 // completed warm-up/sweep passes across both sections
    def report = Report(sf, m, sweep.failed, sweep.leaks, sweep.incomplete, metrics.unmapped,
      gate, sweep.loads.toSeq, passes, doStage, amplify.getOrElse(0), sfDir, mQueries.size,
      sys.env.get("SPARK_GRAFT_ONLY").isEmpty && amplify.isEmpty)
    def timeAll(qs: Seq[(String, QueryFn)])(set: collection.Map[String, Seq[Run]] => Unit): Unit =
      sweep(qs.map { case (n, fn) => n -> (() => Sweep.noop(fn(spark, runDir))) }, 3) { rs =>
        set(rs)
        passes += 1
        val j = report.line(Line.Partial)
        Files.writeString(Paths.get("bench_out.json"), j + "\n")
        println(j)
        Console.out.flush()
      }

    timeAll(selection.filterNot(_._1.startsWith("m")))(sf = _)

    // the m-suite runs over a SESSION-CACHED fixture catalog (r7 verdict
    // task 7): the base metadata frames (constant-size golden fixtures)
    // are persisted once, in a CacheScope that outlives the section's
    // per-run scopes, and every run's plan picks them up via cache-
    // manager plan matching. This is the modeled deployment behavior —
    // the reference app memoizes its catalog listings in in-memory
    // HashMap caches (SURVEY §3.3) and Engine likewise caches the
    // listing — NOT a bench trick: no m query persists intermediates,
    // so each timed run still executes its full plan; only the
    // KB-sized parquet inputs come from memory instead of re-reading
    // footers ~90 times.
    Using.resource(core.CacheScope.open()) { _ =>
      if (mQueries.nonEmpty) {
        val c = meta.FixtureCatalog.default
        Seq(c.listing(spark), c.tableMeta(spark), c.snapshots(spark),
          c.schemaVersions(spark), c.partitionSpecs(spark),
          c.appConfig(spark)).foreach(f => core.CacheScope.keep(f).count())
      }
      // per-section tuning, SURVEY §7.4's "shuffle partitions tuned down
      // for t2 data sizes": the metadata domain is KB-sized, so 32-way
      // shuffles and AQE's per-stage re-planning jobs are pure scheduling
      // overhead here — the same settings any deployment would pick for
      // catalog-metadata queries. Restored for any later section.
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      timeAll(mQueries)(m = _)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }

    val r = report
    if (r.mGuard == "BREACH")
      Console.err.println(s"[bench] m-suite guard BREACH: " +
        f"m_total=${r.mTotal}%.2f s > 6 s at sane load")
    Files.writeString(Paths.get("bench_out.json"), r.line(Line.File) + "\n")
    println(r.line(Line.Stdout))
    println(r.line(Line.Final))
    Console.out.flush()
    spark.stop()
    if (r.failed.nonEmpty) sys.exit(2)
  }
}
