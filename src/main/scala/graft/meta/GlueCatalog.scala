package graft.meta

import java.nio.file.{Files, Paths}

import Model._
import GlueWire.GlueTableFx

/** The Glue catalog CLIENT (S2): everything above the SigV4 transport.
  * Subclasses supply the three reads —
  *
  *   - `AWSGlue.GetDatabases` response body,
  *   - `AWSGlue.GetTables` response body per database,
  *   - the Iceberg TableMetadata file at a `metadata_location`
  *     (S3 GetObject in a deployment)
  *
  * — as `Option[String]` (`None` = not found). The walk, its
  * wire-format parse ([[GlueWire]] for the Glue shapes,
  * [[RestWire.parseTableMetadata]] for the metadata file — byte-shared
  * with the REST path) and the Iceberg-on-Glue `table_type=ICEBERG`
  * convention live here; the probe classification and the
  * [[MetaCatalog]] surface live in [[WalkedCatalog]]. Only glue-typed
  * registry entries contribute (the mirror of [[RestHttpCatalog]]'s
  * rest-only rule).
  *
  * The walk runs in the calling JVM, not in Spark tasks, memoized per
  * instance. GetDatabases pages serially and first, which also resolves
  * the signing credentials once. The two per-item phases then fan out
  * ([[Paging.fanOut]], at most 8 requests in flight): the per-database
  * GetTables, each paging its own NextToken chain in order, and the
  * per-table metadata GETs. Results keep input order, so rows, request
  * counts and error messages are those of a serial walk.
  *
  * Reference: `/root/reference/src/catalog.rs:188-246` (Glue client
  * construction: warehouse required, region defaulted us-east-1 —
  * [[GlueWire.effectiveProps]]) and `:342-375` (probe classification).
  */
abstract class GlueClientCatalog extends WalkedCatalog {

  // ---- the transport seam: one method per Glue read --------------------
  // The two listing reads take the page's continuation token (None =
  // first page): real Glue caps GetDatabases/GetTables at 100 entries
  // and continues via NextToken, and the paging loop ([[Paging]]) lives
  // HERE so both the file-backed and live transports serve complete
  // listings (r16 verdict task 1).
  protected def databasesDoc(cfg: ConfigFx,
      nextToken: Option[String]): Option[String]
  protected def tablesDoc(cfg: ConfigFx, db: String,
      nextToken: Option[String]): Option[String]
  protected def metadataDoc(cfg: ConfigFx, location: String): Option[String]

  protected def walk(cfg: ConfigFx): Seq[((String, String), Option[Loaded])] =
    if (cfg.catalog_type != "glue") Seq.empty else {
      // construction-time validation, reference parity (warehouse
      // required; region defaulting happens here even though the file
      // transport never signs a request)
      GlueWire.effectiveProps(cfg)
      val cat = cfg.name
      val dbs = Paging.collect(s"$cat GetDatabases",
        databasesDoc(cfg, _), GlueWire.parseDatabases,
        GlueWire.parseNextToken)
      val tables: Seq[GlueTableFx] = Paging.fanOut(dbs) { db =>
        Paging.collect(s"$cat GetTables($db)",
          tablesDoc(cfg, db, _), GlueWire.parseTables,
          GlueWire.parseNextToken)
      }.flatten
      // the probe: an Iceberg pointer whose metadata file loads
      // classifies "iceberg"; a non-pointer entry or a dangling pointer
      // classifies "unknown"
      tables.map(t => (t.database, t.name)).zip(Paging.fanOut(tables) { t =>
        t.metadataLocation.filter(_ => t.isIcebergPointer)
          .flatMap(metadataDoc(cfg, _))
          .map(RestWire.parseTableMetadata(cat, t.database, t.name, _))
      })
    }
}

/** [[GlueClientCatalog]] over response payloads on disk — the wire
  * format without a server or SDK. Directory layout (one file per
  * API response / warehouse object):
  *
  * {{{
  *   <dir>/catalogs.json                     // the connection registry
  *   <dir>/<catalog>/databases.json          // GetDatabases response
  *   <dir>/<catalog>/tables/<db>.json        // GetTables response
  *   <dir>/<catalog>/metadata/<locKey>.json  // the TableMetadata file,
  *                                           // keyed by sanitized
  *                                           // metadata_location
  * }}}
  *
  * m25/m26 drive this path through the DuckDB oracle gate against the
  * parquet-fixture catalog; a missing metadata file reproduces the
  * dangling-pointer "unknown" classification.
  */
class GluePayloadCatalog(dir: String) extends GlueClientCatalog {

  protected def payload(rel: String): Option[String] = {
    val p = Paths.get(dir, rel)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  override protected lazy val registry: Seq[ConfigFx] =
    RestWire.parseCatalogs(
      payload("catalogs.json").getOrElse("""{"catalogs":[]}"""))

  // continuation pages live next to the first page, keyed by token
  // (a fixture tree can therefore express a paginated server; the
  // single-file layout is unchanged for unpaginated fixtures).
  // The server-issued token is SANITIZED with locationKey's
  // reserved-char collapse before entering the path (r17 advice): a
  // token containing '/' or '\' could otherwise escape the catalog's
  // subtree of the fixture dir ('..' without a separator cannot
  // traverse, so the collapse is sufficient).
  private def tok(t: String): String =
    t.replaceAll("[^A-Za-z0-9._-]", "_")
  override protected def databasesDoc(cfg: ConfigFx,
      nextToken: Option[String]): Option[String] =
    payload(nextToken.fold(s"${cfg.name}/databases.json")(t =>
      s"${cfg.name}/databases.${tok(t)}.json"))
  override protected def tablesDoc(cfg: ConfigFx, db: String,
      nextToken: Option[String]): Option[String] =
    payload(nextToken.fold(s"${cfg.name}/tables/$db.json")(t =>
      s"${cfg.name}/tables/$db.${tok(t)}.json"))
  override protected def metadataDoc(cfg: ConfigFx,
      location: String): Option[String] =
    payload(s"${cfg.name}/metadata/${GlueWire.locationKey(location)}.json")
}

object GluePayloadCatalog {
  val DefaultDir = "/root/repo/fixtures/glue"
  def default: GluePayloadCatalog = new GluePayloadCatalog(DefaultDir)
}

/** Renders the golden fixture population ([[FixtureGen]]) as Glue API
  * response payloads + Iceberg metadata files under `fixtures/glue/` —
  * the same tables, schemas, specs, and snapshots as the parquet and
  * REST fixtures, serialized through the Glue wire format. Tables the
  * parquet fixtures classify "unknown" (tmp.export_job) render as plain
  * EXTERNAL_TABLE entries with csv classification and NO Iceberg
  * pointer, so the convention-plus-probe semantics reproduce the
  * classification instead of copying it.
  */
object GlueFixtureGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(GluePayloadCatalog.DefaultDir)
    def write(rel: String, body: String): Unit = {
      val p = Paths.get(out, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      ()
    }
    write("catalogs.json", RestWire.catalogsJson(FixtureGen.appConfig))
    val metaByKey = FixtureGen.tableMeta.map(m =>
      (m.catalog, m.namespace, m.name) -> m).toMap
    val bySnap = FixtureGen.snapshots.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    val bySchema = FixtureGen.schemas.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    val bySpec = FixtureGen.specs.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    val glueCats = FixtureGen.appConfig.filter(_.catalog_type == "glue")
      .map(_.name).toSet
    FixtureGen.listing.filter(l => glueCats(l.catalog_name))
      .groupBy(_.catalog_name).foreach { case (cat, rows) =>
        val dbs = rows.map(_.namespace).distinct.sorted
        write(s"$cat/databases.json", GlueWire.getDatabasesJson(dbs))
        rows.groupBy(_.namespace).foreach { case (db, ts) =>
          val entries = ts.sortBy(_.table_name).map { t =>
            metaByKey.get((cat, db, t.table_name)) match {
              case Some(m) if t.table_type == "iceberg" =>
                GlueWire.GlueTableFx(db, t.table_name, "EXTERNAL_TABLE",
                  Map("table_type" -> "ICEBERG",
                    "metadata_location" ->
                      s"${m.location}/metadata/v1.metadata.json"))
              case _ =>
                GlueWire.GlueTableFx(db, t.table_name, "EXTERNAL_TABLE",
                  Map("classification" -> "csv"))
            }
          }
          write(s"$cat/tables/$db.json", GlueWire.getTablesJson(entries))
        }
      }
    FixtureGen.tableMeta.filter(m => glueCats(m.catalog)).foreach { m =>
      val key = (m.catalog, m.namespace, m.name)
      val loc = s"${m.location}/metadata/v1.metadata.json"
      write(s"${m.catalog}/metadata/${GlueWire.locationKey(loc)}.json",
        RestWire.tableMetadataJson(m,
          bySchema.getOrElse(key, Seq.empty),
          bySpec.getOrElse(key, Seq.empty),
          bySnap.getOrElse(key, Seq.empty)))
    }
    println(s"[glue-fixtures] written to $out")
  }
}
