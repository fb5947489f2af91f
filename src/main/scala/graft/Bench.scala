package graft

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.sql.DataFrame

/** Per-round benchmark main.
  *
  * Fixes from round-1 verdict:
  *   - builds the session via [[graft.core.GraftSession]] (events' nanos
  *     timestamps + UTC come from there, not re-derived here);
  *   - the action is a `noop`-format write, so Catalyst cannot prune the
  *     projections/windows the way `.count()` allowed;
  *   - every query gets one warm-up run + 3 timed runs, reporting the
  *     median (cold-start no longer lands on whichever query runs first);
  *     the timed runs are interleaved as whole-suite sweeps and each
  *     query's min is reported alongside (round-4 variance hardening);
  *   - failures are reported per-query (`"failed"` list + null-free
  *     timings) instead of being swallowed as fake timings, and the
  *     process exits nonzero if anything failed;
  *   - the JSON line is written to `bench_out.json` AND printed on plain
  *     stdout (build.sbt sets `run / outputStrategy := StdoutOutput` so
  *     sbt does not decorate it into unparsability).
  *
  * Round-3 additions (r2 verdict tasks 3+8):
  *   - the sf tables are STAGED (untimed) into a multi-file copy under
  *     /tmp before timing: the driver-generated parquet carries ONE row
  *     group per table, capping every scan at one task regardless of
  *     `maxPartitionBytes`; re-laying each table out as ~rows/10k files
  *     (≤ cores) lets scans parallelize the way any real deployment's
  *     layout would. Disable with SPARK_GRAFT_STAGE=0 to measure the raw
  *     single-row-group layout.
  *   - the fixture-backed metadata queries (m*, constant-size input) get
  *     their own timed section (`m_queries`/`m_total`) so regressions on
  *     the reference's core analytics path are caught round-over-round;
  *     they stay excluded from the sf total, which tracks BASELINE.md.
  *
  * Round-10 addition (r9 verdict task 2): progressive partial output —
  * a flushed `"partial":true` JSON line (and a bench_out.json rewrite)
  * after the warm-up pass and after every sweep, so an external timeout
  * can never again zero the round's artifact the way x48's regression
  * did to BENCH_r09.
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

  /** the executor parallelism this process runs at — the same
    * env-derived value [[core.GraftSession]]'s `local[N]` master uses,
    * falling back to the host core count (r14 advice: the staged layout
    * previously hardcoded 32, silently mismatching hosts with a
    * different core count or an explicit SPARK_GRAFT_CPUS override)
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = core.GraftSession.builder("graft-bench", cpus)
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

    // host-load telemetry (r7 verdict task 8): 1-minute load average
    // sampled at start and after every sweep, reported in the JSON so a
    // reviewer can separate shared-VM noise from plan regressions
    // without re-deriving it
    val loadSamples = scala.collection.mutable.ListBuffer[Double]()
    def load1(): Double = java.lang.management
      .ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    def sampleLoad(): Unit = loadSamples += load1()

    // start-load gate (r14 verdict task 1): the r14 round-close snapshot
    // was a high-load run (load 10–19; its x90/x91 readings were 7–9×
    // the quiet-host numbers), violating the canonical-run rule the same
    // round had just declared. The bench now refuses to START timing on
    // a loaded host: it waits (bounded) for the 1-minute load to fall
    // under SPARK_GRAFT_MAX_START_LOAD (default 5.0; 0 disables), and
    // records how it went — `load_gate` reads "ok" when timing began
    // quiet, "timed_under_load" when the wait expired (so a reviewer
    // knows the numbers are suspect WITHOUT re-deriving it from
    // load_avg). Staging above is untimed, so it runs before the gate.
    val maxStartLoad = sys.env.get("SPARK_GRAFT_MAX_START_LOAD")
      .flatMap(_.toDoubleOption).getOrElse(5.0)
    val maxQuietWaitS = sys.env.get("SPARK_GRAFT_QUIET_WAIT_S")
      .flatMap(_.toIntOption).getOrElse(900)
    var quietWaitedS = 0
    var startLoad = load1()
    while (maxStartLoad > 0 && startLoad > maxStartLoad &&
        quietWaitedS < maxQuietWaitS) {
      Console.err.println(f"[bench] start load $startLoad%.1f > " +
        f"$maxStartLoad%.1f — waiting for a quiet host " +
        f"(${quietWaitedS}s/${maxQuietWaitS}s)")
      Thread.sleep(15000)
      quietWaitedS += 15
      startLoad = load1()
    }
    val loadGate =
      if (maxStartLoad <= 0) "disabled"
      else if (startLoad <= maxStartLoad) "ok"
      else "timed_under_load"
    sampleLoad()

    val metrics = new QueryMetrics
    spark.sparkContext.addSparkListener(metrics)
    val incomplete = scala.collection.mutable.ListBuffer[String]()
    val leaks = scala.collection.mutable.LinkedHashSet[String]()

    /** window-insensitive per-run counters: keep/revert adjudications
      * lean on summed executor task time and stage counts (`graft.Trace
      * census` machinery) because wall totals on a shared host swing ±50%
      * with external load; the bench rides the same counters per query so
      * its artifacts carry them without forensic reconstruction. Each run
      * is its own [[QueryMetrics]] group; its metrics are read after the
      * group completes (bounded wait, a run that times out is listed in
      * `metrics_incomplete`), OUTSIDE the wall-clock region.
      */
    def runOnce(name: String, fn: QueryFn): QueryMetrics.Run = {
      // every timed run must pay the full compute, like the DuckDB
      // baseline does: the run's CacheScope releases the intermediates
      // its operators persist for intra-query branch reuse (x03's
      // candidate set, x06's bucket table), which Spark's CacheManager
      // would otherwise hand to the NEXT run by plan identity. Cached
      // RDDs the scope missed are released here and the query is named
      // in `cache_leaks`.
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val run =
        try Using.resource(core.CacheScope.open()) { _ =>
          metrics.measure(spark.sparkContext, s"bench:$name") {
            fn(spark, runDir).write.format("noop").mode("overwrite").save()
          }
        } finally {
          val left = spark.sparkContext.getPersistentRDDs.values
            .filterNot(r => before(r.id))
          left.foreach(_.unpersist(blocking = true))
          if (left.nonEmpty) leaks += name
        }
      if (!run.complete) incomplete += name
      run
    }

    val failed = scala.collection.mutable.ListBuffer[(String, String)]()

    // JSON helpers (shared by the partial-progress lines and the final
    // artifact). Explicit root locale: the default-locale formatter can
    // emit a comma decimal separator, which would break the JSON.
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    def jmapR(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")
    def jmapI(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${jstr(k)}:${v.toLong}" }.mkString("{", ",", "}")
    def jfails: String = failed.map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")

    // progressive results (r9 verdict task 2): BENCH_r09 was a timeout
    // husk (`rc: 124, parsed: null`) because the one JSON line printed
    // at the very end of ~4 full sweeps. The bench now emits a flushed
    // partial line (and rewrites bench_out.json) after the warm-up pass
    // and after EVERY sweep, so a timeout at any point leaves the last
    // completed pass's numbers: warm-up times stand in as provisional
    // medians/mins until the first timed sweep replaces them. The final
    // line is the same shape with "partial" absent; a driver that keeps
    // the last parseable line gets the most-complete data either way.
    val sfTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val sfMins = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mMins = scala.collection.mutable.LinkedHashMap[String, Double]()
    // every timed run of each live query, both sections: its wall feeds
    // the median/min maps, its totals the window-insensitive per-query
    // metrics
    val runs = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ListBuffer[QueryMetrics.Run]]()
    def fail(name: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      failed += name -> msg.linesIterator.take(1).mkString.take(200)
    }
    val amp = amplify.getOrElse(0)
    var passes = 0 // completed warm-up/sweep passes across both sections
    def emitPartial(): Unit = {
      val loads = loadSamples.map(r3).mkString("[", ",", "]")
      val j =
        s"""{"metric":"total","value":${r3(sfTimings.values.sum)},"unit":"sec","partial":true,"passes":$passes,"queries":${jmapR(sfTimings)},"m_total":${r3(mTimings.values.sum)},"total_min":${r3(sfMins.values.sum)},"staged":$doStage,"amplify":$amp,"load_avg":$loads,"failed":$jfails,"n_ok":${sfTimings.size + mTimings.size},"n_failed":${failed.size},"sf":${jstr(sfDir)}}"""
      Files.writeString(Paths.get("bench_out.json"), j + "\n")
      println(j)
      Console.out.flush()
    }

    // Round-4 variance hardening (r3 verdict task 2): the three timed runs
    // of each query are INTERLEAVED as full sweeps over the whole suite
    // (sweep 1 runs every query once, then sweep 2, then sweep 3) instead
    // of back-to-back per query, so a transient host-load spike inflates
    // at most one temporally-separated sample per query rather than all
    // three; the per-query MIN rides along (`queries_min`) as the
    // load-insensitive floor. r3's q12 5.0s/q13 3.4s/q25 2.3s/st04 2.8s
    // driver numbers do not reproduce locally (0.52/1.33/0.26/1.21 —
    // same commit, same staged layout): external load, not plan change.
    def timeAll(qs: Seq[(String, QueryFn)],
        outMed: scala.collection.mutable.LinkedHashMap[String, Double],
        outMin: scala.collection.mutable.LinkedHashMap[String, Double]): Unit = {
      qs.foreach { case (name, fn) =>
        // warm-up: JIT + parquet footer cache + codegen cache; its time
        // rides as the provisional partial-output entry
        try {
          val t = runOnce(name, fn).wallS
          runs(name) = scala.collection.mutable.ListBuffer()
          outMed(name) = t
          outMin(name) = t
        } catch { case e: Throwable => fail(name, e) }
      }
      passes += 1
      emitPartial()
      // sweep runs are guarded too (r4 advice): a query that passed
      // warm-up but throws transiently mid-sweep is reported in `failed`
      // and dropped, instead of crashing the bench before bench_out.json
      (1 to 3).foreach { _ =>
        qs.foreach { case (name, fn) =>
          if (runs.contains(name)) {
            try runs(name) += runOnce(name, fn)
            catch {
              case e: Throwable =>
                fail(name, e)
                runs.remove(name)
                outMed.remove(name)
                outMin.remove(name)
            }
          }
        }
        sampleLoad()
        qs.foreach { case (name, _) =>
          runs.get(name).foreach { rs =>
            val s = rs.map(_.wallS).sorted
            outMed(name) = s(s.size / 2)
            outMin(name) = s.head
          }
        }
        passes += 1
        emitPartial()
      }
    }

    timeAll(selection.filterNot(_._1.startsWith("m")), sfTimings, sfMins)

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
    val mQueries = selection.filter(_._1.startsWith("m"))
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
      timeAll(mQueries, mTimings, mMins)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }

    // ms-rounded variant for the stdout line: the driver keeps only a
    // ~4 KiB tail of the run's output, and the full-precision four-map
    // line grew past that in rounds 4-5 ("parsed": null in BENCH_r04/05).
    // The printed line therefore carries the contract keys only (metric/
    // value/unit/queries/sf + small scalars) at 1 ms precision (~2 KiB);
    // bench_out.json keeps every map at full precision.
    val total = sfTimings.values.sum
    val loads = loadSamples.map(r3).mkString("[", ",", "]")
    // m-suite regression guard (r10 verdict task 8): the metadata suite
    // is KB-sized and its r8 regression class (cache-substitution over
    // ballooned plans) shows up as a section total far above the ~3.5 s
    // healthy floor. When the FULL m-suite ran and host load was sane,
    // a total over 6 s marks the artifact BREACH so a silent return of
    // that class is visible in the JSON, not just derivable from it.
    val mGuard: String = {
      val fullSuite =
        mQueries.size == SparkEntry.queries.keys.count(_.startsWith("m"))
      val saneLoad = loadSamples.nonEmpty && loadSamples.max < 16.0
      // a FAILED m-query is itself the regression signal — "selected the
      // full suite" must not pass for "the full suite actually timed",
      // or a crash-dropped query lets the remaining sum read as ok
      val mFailed = failed.exists(_._1.startsWith("m"))
      if (!fullSuite || (mTimings.isEmpty && !mFailed)) "n/a"
      else if (mFailed) "BREACH_failures"
      else if (mTimings.values.sum <= 6.0) "ok"
      else if (!saneLoad) "high_load"
      else "BREACH"
    }
    if (mGuard == "BREACH")
      Console.err.println(s"[bench] m-suite guard BREACH: " +
        f"m_total=${mTimings.values.sum}%.2f s > 6 s at sane load")
    // host thermometer (r18 verdict task 8 + r18 ADVICE item 2): the
    // m-suite is constant-size (KB fixtures, pure scheduling), so its
    // section total is a pure host-contention gauge — it read 3.3 s on
    // every quiet r17/r18 window and 5.9–12.6 s on loaded ones with
    // ZERO m-code change. The ratio to that quiet floor rides in the
    // JSON so a reviewer separates window heat from plan regressions
    // without cross-referencing OPTIMIZATION notes, and `canonical`
    // now additionally requires the thermometer ≤ 1.3× the floor —
    // a hot-window run can no longer self-stamp as the round's record
    // (the r18 close regressed total_min 97.6→143.6 s at ratio 1.80
    // yet stamped canonical:true).
    val mFloorS = 3.3
    val mFloorRatio =
      if (mTimings.isEmpty) 0.0 else mTimings.values.sum / mFloorS
    // machine-checkable canonicality (r14 verdict item 1's alternative;
    // tightened per r15 ADVICE): a run only counts as the round's record
    // when the FULL default query selection ran (no SPARK_GRAFT_ONLY
    // filter, no amplified subset — a cherry-picked run must not
    // self-stamp), the m-guard read ok (n/a passes only when the engine
    // registers no m-queries at all), the start-load gate actually ran
    // and passed (a disabled gate is not a pass), nothing failed, and
    // the m-suite thermometer read quiet — a reviewer greps ONE boolean
    // instead of re-deriving it
    val fullSelection = sys.env.get("SPARK_GRAFT_ONLY").isEmpty &&
      amplify.isEmpty
    val noMQueriesExist = !SparkEntry.queries.keys.exists(_.startsWith("m"))
    val canonical = fullSelection &&
      ((mGuard == "ok" && mFloorRatio <= 1.3) ||
        (mGuard == "n/a" && noMQueriesExist)) &&
      loadGate == "ok" && failed.isEmpty
    // min across sweeps: stage counts are deterministic (AQE decisions
    // aside); task time and CPU time are the window-insensitive floors
    // the adjudications use
    def minOf(f: QueryMetrics.Totals => Double) =
      runs.map { case (name, rs) => name -> rs.map(r => f(r.totals)).min }
    val stageCounts = minOf(_.stages.toDouble)
    val taskTimes = minOf(_.taskWallS)
    val cpuTimes = minOf(_.cpuS)
    // window-insensitive totals ride the FINAL line (r18 verdict task
    // 2): stage counts are deterministic across windows and task time
    // is far less window-bound than wall, so a "0.59× total" window is
    // separable from a plan regression off the driver's artifact alone
    val wiKeys =
      s""""task_time_total_s":${r3(taskTimes.values.sum)},"stages_total":${stageCounts.values.sum.toLong},"m_floor_ratio":${r3(mFloorRatio)}"""
    val gateKeys =
      s""""load_gate":${jstr(loadGate)},"start_load":${r3(startLoad)},"quiet_wait_s":$quietWaitedS,"canonical":$canonical,$wiKeys"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(sfTimings)},"queries_min":${jmap(sfMins)},"m_queries":${jmap(mTimings)},"m_queries_min":${jmap(mMins)},"task_time_s":${jmapR(taskTimes)},"stages":${jmapI(stageCounts)},"cpu_s":${jmapR(cpuTimes)},"metrics_incomplete":${incomplete.map(jstr).mkString("[", ",", "]")},"cache_leaks":${leaks.map(jstr).mkString("[", ",", "]")},"unmapped":${metrics.unmapped},"m_total":${mTimings.values.sum},"m_guard":${jstr(mGuard)},$gateKeys,"total_min":${sfMins.values.sum},"staged":$doStage,"amplify":$amp,"load_avg":$loads,"failed":$jfails,"n_ok":${sfTimings.size + mTimings.size},"n_failed":${failed.size},"sf":${jstr(sfDir)}}"""
    val jsonShort =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${jmapR(sfTimings)},"m_total":${r3(mTimings.values.sum)},"m_guard":${jstr(mGuard)},$gateKeys,"total_min":${r3(sfMins.values.sum)},"staged":$doStage,"amplify":$amp,"load_avg":$loads,"failed":$jfails,"n_ok":${sfTimings.size + mTimings.size},"n_failed":${failed.size},"sf":${jstr(sfDir)}}"""
    // the 175-query map outgrew the stdout tail the driver keeps — the
    // driver's BENCH_r* artifacts each retain EXACTLY the last 2000
    // chars (incl. sbt's trailing "[success]" line) and parse the last
    // complete JSON line inside it: BENCH_r12–r14 all read
    // `parsed: null` off a mid-map cut of a ~4.5 KB final line, and
    // 181 query NAMES alone are ~3.3 KB, so per-query maps can never
    // ride the final line (r18 verdict task 1 as literally stated is
    // physically unsatisfiable against that window). The LAST printed
    // line therefore stays a compact headline-only record that always
    // fits — now carrying the window-insensitive per-run totals — and
    // the per-query maps (timings + task_time_s/stages) live in the
    // full line above it and in the committed bench_out.json (the
    // canonical round artifact).
    val jsonCompact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","m_total":${r3(mTimings.values.sum)},"m_guard":${jstr(mGuard)},$gateKeys,"total_min":${r3(sfMins.values.sum)},"staged":$doStage,"amplify":$amp,"load_avg":$loads,"failed":$jfails,"n_ok":${sfTimings.size + mTimings.size},"n_failed":${failed.size},"sf":${jstr(sfDir)},"queries_file":"bench_out.json"}"""

    Files.writeString(Paths.get("bench_out.json"), json + "\n")
    println(jsonShort)
    println(jsonCompact)
    Console.out.flush()
    spark.stop()
    if (failed.nonEmpty) sys.exit(2)
  }
}
