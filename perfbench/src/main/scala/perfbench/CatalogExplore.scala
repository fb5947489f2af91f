package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}

import graft.Engine
import graft.meta.{RestHttpCatalog, RestWire}
import graft.meta.Model.ConfigFx
import graft.ops.MetaOps

/** One interactive operation of the catalog session. */
final case class CatOp(kind: String, query: String = "",
    table: Option[GenTable] = None, tsMs: Long = 0L,
    filter: MetaOps.SnapshotFilterParams = MetaOps.SnapshotFilterParams())

object CatOp {
  /** one op of every kind, in the order a user walks the dashboard:
    * browse, health, drill into snapshots and schema, then the rest.
    * The order is fixed so every run times the same kinds; the seed
    * draws each op's arguments.
    */
  val Kinds: Seq[String] = Seq("search", "health_score", "tree",
    "snapshot_filter", "sub_scores", "schema_evolution", "alerts",
    "time_travel", "partition_fields", "recommendations", "trends")

  /** the op's `graft.Engine` call: a lazy frame, not yet planned */
  def build(o: CatOp, catalog: String, e: Engine): DataFrame = o.kind match {
    case "search" => e.searchTables(o.query)
    case "tree" => e.treeCounts(o.query)
    case "snapshot_filter" => e.filterSnapshots(o.filter)
    case "schema_evolution" =>
      val t = o.table.get
      e.schemaEvolution(catalog, t.ns, t.name)
    case "partition_fields" => e.partitionFields
    case "time_travel" => e.timeTravel(o.tsMs)
    case "health_score" => e.healthScores
    case "sub_scores" => e.subScores
    case "alerts" => e.alerts
    case "recommendations" => e.recommendations
    case "trends" => e.trends
  }
  /** the seeded, endless op script of one client */
  def script(c: GenCatalog, seed: Long): Iterator[CatOp] = {
    val r = new SplittableRandom(seed ^ 0x5eed0fcafeL)
    Iterator.continually(Kinds).flatten.map(make(_, c, r))
  }

  def make(kind: String, c: GenCatalog, r: SplittableRandom): CatOp = {
    def anyTable = c.tables(r.nextInt(c.tables.size))
    kind match {
      case "search" =>
        val s = anyTable.fullName
        val len = 3 + r.nextInt(4)
        val at = r.nextInt(math.max(1, s.length - len))
        CatOp(kind, query = s.substring(at, math.min(s.length, at + len)))
      case "tree" =>
        val n = anyTable.name.split('_')
        CatOp(kind, query = n(r.nextInt(n.length)))
      case "snapshot_filter" =>
        val ops = Seq("append", "overwrite", "delete")
          .filter(_ => r.nextInt(3) != 0)
        val day0 = r.nextInt(600)
        def day(d: Int) = java.time.LocalDate.ofEpochDay(
          CatalogGen.HistoryStartMs / 86400000L + d).toString
        CatOp(kind, filter = MetaOps.SnapshotFilterParams(
          operationTypes = if (ops.isEmpty) Seq("append") else ops,
          filesAddedMin =
            if (r.nextInt(3) == 0) Some(1L + r.nextInt(40)) else None,
          dateStart = Some(day(day0)),
          dateEnd = Some(day(day0 + 30 + r.nextInt(120)))))
      case "schema_evolution" =>
        CatOp(kind, table = Some(c.loaded(r.nextInt(c.loaded.size))))
      case "time_travel" =>
        CatOp(kind, tsMs = CatalogGen.HistoryStartMs +
          r.nextLong(600L * 86400000L))
      case other => CatOp(other)
    }
  }
}

/** Expected outputs, computed from the generated catalog alone. */
object CatalogExpect {
  type Key = (String, String)

  def listing(c: GenCatalog): Set[(String, String, String, String, String)] =
    c.tables.map(t => (c.name, "rest", t.ns, t.name,
      if (t.loadable) "iceberg" else "unknown")).toSet

  def snapshotCounts(c: GenCatalog): Map[Key, Long] =
    c.loaded.map(t => (t.ns, t.name) -> t.snaps.size.toLong).toMap

  def search(c: GenCatalog, q0: String): Seq[String] = {
    val q = q0.toLowerCase
    c.tables.filter(t => t.fullName.toLowerCase.contains(q) ||
        t.name.toLowerCase.contains(q) || t.ns.toLowerCase.contains(q))
      .map(_.fullName).sorted.take(10)
  }

  def tree(c: GenCatalog, q0: String): (Long, Long, Long) = {
    val q = q0.toLowerCase
    val hits = c.tables.filter(_.name.toLowerCase.contains(q))
    val nss = c.tables.map(_.ns).distinct
    val nsShown = nss.filter(ns => ns.toLowerCase.contains(q) ||
      hits.exists(_.ns == ns))
    val cats = if (c.name.toLowerCase.contains(q) || nsShown.nonEmpty) 1L else 0L
    (cats, nsShown.size.toLong, hits.size.toLong)
  }

  private def opOf(s: graft.meta.Model.SnapshotFx): String =
    s.summary.fold("unknown")(_.getOrElse("operation", "append"))

  def snapshotFilter(c: GenCatalog, p: MetaOps.SnapshotFilterParams): Long = {
    val lo = p.dateStart.flatMap(MetaOps.dayMs(_, endOfDay = false))
    val hi = p.dateEnd.flatMap(MetaOps.dayMs(_, endOfDay = true))
    c.loaded.iterator.flatMap(_.snaps).count { s =>
      val files = s.summary.flatMap(_.get("added-data-files")).map(_.toLong)
      p.operationTypes.contains(opOf(s)) &&
        p.filesAddedMin.forall(m => files.forall(_ >= m)) &&
        lo.forall(s.ts_ms >= _) && hi.forall(s.ts_ms <= _)
    }.toLong
  }

  def partitionFields(c: GenCatalog): Long =
    c.loaded.map(_.specs.map(_.fields.size.toLong).sum).sum

  def timeTravel(c: GenCatalog, ts: Long): Map[Key, Long] =
    c.loaded.flatMap { t =>
      t.snaps.filter(_.ts_ms <= ts).lastOption
        .map(s => (t.ns, t.name) -> s.snapshot_id)
    }.toMap

  def loadedKeys(c: GenCatalog): Set[Key] =
    c.loaded.map(t => (t.ns, t.name)).toSet

  /** None when a collected listing matches the generated catalog */
  def checkListing(gen: GenCatalog, rows: Array[Row]): Option[String] = {
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3), r.getString(4))).toSet
    if (rows.length != gen.tables.size || got != listing(gen))
      Some(s"listing: ${rows.length} rows, expected ${gen.tables.size}")
    else None
  }

  /** None when the per-table snapshot counts of a connected catalog
    * match the generated catalog
    */
  def checkSnapshots(gen: GenCatalog, snapCounts: Map[Key, Long]): Option[String] =
    if (snapCounts == snapshotCounts(gen)) None
    else Some("snapshot counts per table differ from the generated catalog")

  private def keys(rows: Array[Row]): Seq[(String, String)] =
    rows.map(r => (r.getAs[String]("namespace"), r.getAs[String]("name")))
      .toSeq

  /** None when an op's collected rows match the generated catalog */
  def checkOp(gen: GenCatalog, o: CatOp, rows: Array[Row]): Option[String] = {
    def expect(ok: Boolean, what: => String) = if (ok) None else Some(what)
    val loaded = loadedKeys(gen)
    o.kind match {
      case "search" =>
        val got = rows.map(_.getAs[String]("full_name")).toSeq
        expect(got == search(gen, o.query), s"search '${o.query}'")
      case "tree" =>
        val r = rows.head
        val got = (r.getAs[Long]("n_catalogs"), r.getAs[Long]("n_namespaces"),
          r.getAs[Long]("n_tables"))
        expect(got == tree(gen, o.query), s"tree '${o.query}'")
      case "snapshot_filter" =>
        expect(rows.length == snapshotFilter(gen, o.filter),
          s"snapshot filter: ${rows.length} rows")
      case "schema_evolution" =>
        val t = o.table.get
        val nFields = t.schemas.map(_.fields.size).max
        expect(rows.length == nFields &&
          rows.head.length == 2 + t.schemas.size, s"schema of ${t.fullName}")
      case "partition_fields" =>
        expect(rows.length == partitionFields(gen),
          s"partition fields: ${rows.length} rows")
      case "time_travel" =>
        val got = rows.map(r => (r.getAs[String]("namespace"),
          r.getAs[String]("name")) -> r.getAs[Long]("snapshot_id")).toMap
        expect(got == timeTravel(gen, o.tsMs),
          s"time travel to ${o.tsMs}")
      case "health_score" =>
        expect(keys(rows).toSet == loaded && rows.length == loaded.size &&
          rows.forall { r => val s = r.getAs[Double]("health_score")
            s >= 0 && s <= 100 }, "health scores")
      case "sub_scores" | "trends" =>
        expect(keys(rows).toSet == loaded && rows.length == loaded.size,
          s"${o.kind}: ${rows.length} rows")
      case "alerts" | "recommendations" =>
        expect(keys(rows).forall(loaded), s"${o.kind} name unknown tables")
    }
  }
}

/** hielo's own traffic: one closed-loop client connects to the
  * benchmark's localhost Iceberg REST catalog (a full namespace walk,
  * every LoadTable and the 404 probe), then runs the next
  * [[OpsPerConnect]] ops of the script through `graft.Engine` and
  * reconnects.
  */
final class CatalogExplore(ctx: Ctx) extends Workload {
  val name = "catalog_explore"
  val OpsPerConnect = 2
  val WarmConnects = 12

  private var gen: GenCatalog = _
  private var payloads: Payloads = _
  private var server: CatalogServer = _
  private var script: Iterator[CatOp] = _
  private var last: Option[RestHttpCatalog] = None
  private val perConnect = scala.collection.mutable.ArrayBuffer.empty[ServerCounts]

  def prepare(): Unit = {
    gen = CatalogGen.generate(ctx.seed)
    payloads = CatalogGen.render(gen)
    server = new CatalogServer(payloads)
    script = CatOp.script(gen, ctx.seed)
  }

  def inputDigest: String = Digest.of(Iterator(payloads.config) ++
    payloads.nsPages ++ payloads.tablePages.toSeq.sortBy(_._1).iterator
      .flatMap(_._2) ++
    payloads.loads.toSeq.sortBy(_._1).iterator.map(_._2))

  private def registry = Seq(ConfigFx(gen.name, "rest",
    Map("uri" -> server.uri)))

  /** new client → listing collected; the listing is checked against the
    * generated catalog and the walk against the server's request counts
    */
  private def connect(rec: Recorder): Option[Engine] = {
    server.reset()
    ctx.op(rec, "connect") { _ =>
      val cat = new RestHttpCatalog(registry)
      (cat, cat.listing(ctx.spark).collect())
    } { case (cat, rows) =>
      val counts = server.counts
      perConnect += counts
      last = Some(cat)
      CatalogExpect.checkListing(gen, rows).orElse(
        if (counts.requests == payloads.walkRequests) None
        else Some(s"walk made ${counts.requests} requests, expected " +
          s"${payloads.walkRequests}"))
    }.map { case (cat, _) => new Engine(ctx.spark, cat) }
  }

  private def interactive(rec: Recorder, e: Engine, o: CatOp): Unit =
    ctx.op(rec, o.kind) { id =>
      val df = ctx.span(s"op.${o.kind}.build", id)(CatOp.build(o, gen.name, e))
      if (ctx.tracer.enabled)
        ctx.span(s"op.${o.kind}.plan", id)(df.queryExecution.executedPlan)
      ctx.span(s"op.${o.kind}.exec", id)(df.collect())
    }(rows => CatalogExpect.checkOp(gen, o, rows))

  /** [[WarmConnects]] clients connecting, four side by side, so the
    * transport and parse paths are compiled: a connect keeps getting
    * faster over its first ten or so runs in a process, and the measured
    * connects should not sit on that slope. The ops' first runs are the
    * measured ones. Each client's listing is checked, and one client's
    * per-table snapshot counts: the measured connects run the same code
    * and check the listing and the walk.
    */
  def warmUp(rec: Recorder): Unit = {
    val cats = new java.util.concurrent.ConcurrentLinkedQueue[RestHttpCatalog]
    Parallel.all(ctx.cores)(Seq.fill(WarmConnects)(() => {
      rec.attempt()
      val cat = new RestHttpCatalog(registry)
      CatalogExpect.checkListing(gen, cat.listing(ctx.spark).collect())
        .foreach(rec.fail("connect", _))
      cats.add(cat): Unit
    }): _*)
    rec.attempt()
    val snaps = new Engine(ctx.spark, cats.peek()).snapshots
      .groupBy("namespace", "name").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    CatalogExpect.checkSnapshots(gen, snaps).foreach(rec.fail("connect", _))
  }

  /** the first four op kinds on the last connected catalog */
  def probe(rec: Recorder): Unit = {
    val r = new SplittableRandom(ctx.seed)
    last.map(new Engine(ctx.spark, _)).foreach { e =>
      CatOp.Kinds.take(4).foreach(k => interactive(rec, e, CatOp.make(k, gen, r)))
    }
  }

  /** sessions until every kind ran once and the deadline passed; the
    * session that runs the last new kind runs no more ops
    */
  def loop(rec: Recorder, deadlineNs: Long): Unit = {
    var ran = 0
    do {
      val ops = List.fill(math.min(OpsPerConnect,
        math.max(1, CatOp.Kinds.size - ran)))(script.next())
      System.gc()
      connect(rec).foreach(e => ops.foreach(interactive(rec, e, _)))
      ran += ops.size
    } while (ran < CatOp.Kinds.size || System.nanoTime() < deadlineNs)
  }

  private def opSamples(rec: Recorder) = rec.ofAll(CatOp.Kinds.toSet)

  /** the headline pass is the median connect (`connect_s`); the ops'
    * mean latency is the session's follow-up
    */
  def endToEnd(rec: Recorder): Seq[(String, Metric)] = Seq(
    "pass_s" -> Metric(Stats.median(rec.of("connect")) / 1000, "s"),
    "op_mean_ms" -> Metric(Stats.mean(opSamples(rec)), "ms"))

  def report(rec: Recorder): Seq[(String, Any)] = {
    val ops = opSamples(rec)
    Seq("connect_s" -> Stats.median(rec.of("connect")) / 1000,
      "connect_samples_ms" -> rec.of("connect").map(_.round).mkString(","),
      "op_p50_ms" -> Stats.median(ops),
      "op_p90_ms" -> Stats.quantile(ops, 0.9),
      "op_samples" -> ops.size,
      "op_samples_beyond_p90" -> ops.count(_ > Stats.quantile(ops, 0.9)),
      "ops_per_s" -> ops.size / (ops.sum / 1000),
      "tables" -> gen.tables.size,
      "snapshots" -> gen.loaded.map(_.snaps.size).sum,
      "catalog_bytes" -> payloads.totalBytes)
  }

  def attribute(rec: Recorder): Map[String, Metric] = {
    val n = perConnect.size.toDouble.max(1)
    def per(f: ServerCounts => Long) = perConnect.map(f).sum / n
    val parseS = ctx.span("meta.parse", -1) {
      val t0 = System.nanoTime()
      def s(b: Array[Byte]) = new String(b, UTF_8)
      payloads.nsPages.foreach { p =>
        RestWire.parseNamespaces(s(p)); RestWire.parseNextPageToken(s(p)) }
      payloads.tablePages.values.flatten.foreach { p =>
        RestWire.parseTableIdents(s(p)); RestWire.parseNextPageToken(s(p)) }
      payloads.loads.foreach { case ((ns, t), b) =>
        RestWire.parseLoadTable(gen.name, ns, t, s(b)) }
      (System.nanoTime() - t0) / 1e9
    }
    val frameS = last.map { cat =>
      ctx.span("meta.frame_build", -1) {
        val t0 = System.nanoTime()
        cat.listing(ctx.spark).collect()
        cat.tableMeta(ctx.spark).collect()
        cat.snapshots(ctx.spark).collect()
        (System.nanoTime() - t0) / 1e9
      }
    }.getOrElse(0.0)
    Map(
      "meta.http_requests" -> Metric(per(_.requests), "count"),
      "meta.requests_per_table" ->
        Metric(per(_.requests) / gen.tables.size, "ratio"),
      "meta.req_list" -> Metric(per(_.listRequests), "count"),
      "meta.req_load" -> Metric(per(_.loadRequests), "count"),
      "meta.retries" -> Metric(per(_.retries), "count"),
      "meta.bytes_served" -> Metric(per(_.bytes), "bytes"),
      "meta.server_busy_s" -> Metric(per(_.busyNs) / 1e9, "s"),
      "meta.parse_s" -> Metric(parseS, "s"),
      "meta.frame_build_s" -> Metric(frameS, "s"))
  }

  def close(): Unit = if (server != null) server.stop()
}
