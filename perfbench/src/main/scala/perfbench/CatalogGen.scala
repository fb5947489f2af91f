package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.meta.Model._
import graft.meta.RestWire

/** One generated table. `loadable = false` tables are listed but have no
  * LoadTable response, so the client's 404 probe classifies them
  * "unknown"; their metadata rows are generated anyway and never served.
  */
final case class GenTable(ns: String, name: String, loadable: Boolean,
    meta: TableMetaFx, schemas: Seq[SchemaFx], specs: Seq[SpecFx],
    snaps: Seq[SnapshotFx]) {
  def fullName: String = s"$ns.$name"
}

final case class GenCatalog(name: String, namespaces: Seq[String],
    tables: Seq[GenTable]) {
  lazy val loaded: Seq[GenTable] = tables.filter(_.loadable)
}

/** The response bodies one catalog serves, rendered once through the
  * engine's public `RestWire` renderers. Listing pages are indexed by
  * their page number; the continuation token of page i is "i+1".
  */
final case class Payloads(config: Array[Byte],
    nsPages: IndexedSeq[Array[Byte]],
    tablePages: Map[String, IndexedSeq[Array[Byte]]],
    loads: Map[(String, String), Array[Byte]], nTables: Long) {
  def totalBytes: Long = config.length.toLong + nsPages.map(_.length).sum +
    tablePages.values.flatten.map(_.length.toLong).sum +
    loads.values.map(_.length.toLong).sum
  /** requests a complete client walk makes: config, namespace pages, one
    * (404) child listing per namespace, table pages, one load per table
    */
  def walkRequests: Long = 1L + nsPages.size + tablePages.size +
    tablePages.values.map(_.size.toLong).sum + nTables
}

/** Seeded Iceberg catalog generator: about a thousand tables in a few
  * tens of namespaces, one in ten unloadable, heavy-tailed snapshot
  * counts (most tables 5 to 30 snapshots, one in forty 100 to 300, one in
  * two hundred 1000 to 2000), so LoadTable bodies range from KB to MB.
  * The seed picks which tables are unloadable, large or huge, not how
  * many, and the large and huge sizes are evenly spaced over their
  * ranges, so every seed serves about the same number of snapshots.
  */
object CatalogGen {
  val CatalogName = "bench"
  val Prefix = "bench"
  val NsPageSize = 10
  val TablePageSize = 25

  private val Domains = Vector("sales", "ads", "ml", "ops", "web", "fin",
    "hr", "iot", "logs", "geo", "crm", "risk")
  private val Words = Vector("orders", "events", "clicks", "users",
    "sessions", "payments", "items", "metrics", "features", "labels",
    "daily", "hourly", "raw", "clean", "agg", "dim", "fact", "snapshot",
    "ledger", "audit")
  private val Types = Vector("long", "string", "int", "double", "timestamp",
    "date", "boolean", "decimal(10, 2)")
  private val Ops = Vector("append", "append", "append", "append",
    "append", "append", "overwrite", "overwrite", "delete", "replace")
  private val Transforms = Vector("identity", "day", "bucket[16]",
    "month", "truncate[8]")

  /** 2024-01-01T00:00:00Z */
  val HistoryStartMs = 1704067200000L

  def generate(seed: Long, nTables: Int = 1000,
      nNamespaces: Int = 32): GenCatalog = {
    val r = new SplittableRandom(seed)
    val nss = (0 until nNamespaces).map(i =>
      s"${Domains(r.nextInt(Domains.size))}_$i")
    // Zipf-like namespace weights so a few namespaces span several pages
    val w = (1 to nNamespaces).map(k => 1.0 / math.sqrt(k.toDouble))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    // a seeded permutation deals the roles: unloadable tables first, then
    // the huge and the large loadable ones
    val order = (0 until nTables).toArray
    for (i <- nTables - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val x = order(i); order(i) = order(j); order(j) = x
    }
    val nUnknown = nTables / 10
    val nHuge = math.max(1, nTables / 200)
    val nLarge = math.max(1, nTables / 40)
    val snapsOf = new Array[Int](nTables)
    for (k <- 0 until nHuge) snapsOf(order(nUnknown + k)) = 1000 + k * 1000 / nHuge
    for (k <- 0 until nLarge)
      snapsOf(order(nUnknown + nHuge + k)) = 100 + k * 200 / nLarge
    val unloadable = order.take(nUnknown).toSet
    val tables = (0 until nTables).map { t =>
      val u = r.nextDouble()
      val ns = nss(cum.indexWhere(_ >= u) max 0)
      val name = s"${Words(r.nextInt(Words.size))}_" +
        s"${Words(r.nextInt(Words.size))}_$t"
      table(r.split(), ns, name, t, loadable = !unloadable(t), snapsOf(t))
    }
    GenCatalog(CatalogName, nss, tables)
  }

  /** `nSnaps0` snapshots, or 5 to 29 when it is 0 */
  private def table(r: SplittableRandom, ns: String, name: String, t: Int,
      loadable: Boolean, nSnaps0: Int): GenTable = {
    val nSnaps = if (nSnaps0 > 0) nSnaps0 else 5 + r.nextInt(25)
    val nSchemas = 1 + r.nextInt(4)
    var nFields = 3 + r.nextInt(6)
    val schemas = (0 until nSchemas).map { sid =>
      if (sid > 0) nFields += 1 + r.nextInt(2)
      SchemaFx(CatalogName, ns, name, sid, is_current = sid == nSchemas - 1,
        (1 to nFields).map(f => FieldFx(f, s"c$f", f == 1,
          if (f % 4 == 0) Some(s"column $f") else None,
          Types((f * 7 + t) % Types.size))))
    }
    val nSpecs = 1 + r.nextInt(2)
    val specs = (0 until nSpecs).map { sp =>
      val nPf = r.nextInt(3)
      SpecFx(CatalogName, ns, name, sp, is_default = sp == nSpecs - 1,
        (0 until nPf).map(k => PartFieldFx(1 + r.nextInt(nFields),
          1000 + k, s"p$k", Transforms(r.nextInt(Transforms.size)))))
    }
    var ts = HistoryStartMs + r.nextLong(200L * 86400000L)
    // spread the history over ~500 days whatever the snapshot count
    val gapMax = math.max(60000L, 500L * 86400000L / nSnaps)
    var total = 0L
    val snaps = (0 until nSnaps).map { j =>
      ts += 1000L + r.nextLong(gapMax)
      val added = 1L + r.nextInt(50)
      val recs = added * (100L + r.nextInt(5000))
      total += recs
      val summary =
        if (r.nextInt(33) == 0) None
        else Some(Map(
          "operation" -> Ops(r.nextInt(Ops.size)),
          "added-data-files" -> added.toString,
          "added-records" -> recs.toString,
          "total-records" -> total.toString,
          "total-size" -> (total * 64L).toString,
          "added-files-size" -> (recs * 64L).toString))
      SnapshotFx(CatalogName, ns, name, t.toLong * 100000L + j, ts,
        s"s3://bench/$ns/$name/metadata/snap-$j.avro",
        Some(schemas(math.min(nSchemas - 1, j * nSchemas / nSnaps)).schema_id),
        summary)
    }
    val meta = TableMetaFx(CatalogName, ns, name, s"s3://bench/$ns/$name",
      snaps.lastOption.map(_.snapshot_id), nSchemas - 1,
      Map("owner" -> s"team-${t % 7}", "write.format.default" -> "parquet"))
    GenTable(ns, name, loadable, meta, schemas, specs, snaps)
  }

  def render(c: GenCatalog): Payloads = {
    def b(s: String) = s.getBytes(UTF_8)
    def pages[T](xs: Seq[T], size: Int)(
        f: (Seq[T], Option[String]) => String): IndexedSeq[Array[Byte]] = {
      val groups = xs.grouped(size).toIndexedSeq
      val gs = if (groups.isEmpty) IndexedSeq(Seq.empty[T]) else groups
      gs.zipWithIndex.map { case (g, i) =>
        b(f(g, if (i < gs.size - 1) Some((i + 1).toString) else None))
      }
    }
    val byNs = c.tables.groupBy(_.ns)
    Payloads(
      b(RestWire.configJson(Map.empty, Map("prefix" -> Prefix))),
      pages(c.namespaces, NsPageSize)((g, tok) =>
        RestWire.namespacesJson(g, tok)),
      c.namespaces.map { ns =>
        ns -> pages(byNs.getOrElse(ns, Seq.empty).map(_.name),
          TablePageSize)((g, tok) => RestWire.tableIdentsJson(ns, g, tok))
      }.toMap,
      c.loaded.map(t => (t.ns, t.name) ->
        b(RestWire.loadTableJson(t.meta, t.schemas, t.specs, t.snaps)))
        .toMap,
      c.tables.size.toLong)
  }
}
