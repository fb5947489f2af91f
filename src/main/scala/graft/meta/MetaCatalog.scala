package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog seam (S1-S6). The reference reaches live REST/Glue catalogs
  * through the `iceberg` crate (`/root/reference/src/catalog.rs:154-246`);
  * this build is offline with no Iceberg runtime jar (SURVEY §0), so the
  * interface is pluggable and the shipped implementation reads the golden
  * metadata fixtures. A runtime-backed implementation slots in behind the
  * same trait without touching any operator.
  */
trait MetaCatalog {
  /** S4/S5 — one row per (catalog, namespace, table) with classification */
  def listing(spark: SparkSession): DataFrame
  /** S6 head object per table */
  def tableMeta(spark: SparkSession): DataFrame
  /** the snapshot fact table, normalized (S7) */
  def snapshots(spark: SparkSession): DataFrame
  def schemaVersions(spark: SparkSession): DataFrame
  def partitionSpecs(spark: SparkSession): DataFrame
  /** S8 — app config (connection registry contents) */
  def appConfig(spark: SparkSession): DataFrame
}

/** The half of a catalog CLIENT that does not depend on the wire
  * format, shared by [[RestClientCatalog]] and [[GlueClientCatalog]]
  * (one copy, as with [[HttpRetry]]): each supplies its registry and
  * one catalog's walk, and this class turns the walks into the
  * [[MetaCatalog]] frames. The walk is the reference's probe
  * (`src/catalog.rs:342-375`): every listed identifier, in listing
  * order, with the metadata its load request found — none classifies
  * "unknown", a loaded one "iceberg".
  *
  * Parsing runs in the calling JVM, not in Spark tasks (catalog
  * metadata is KB-sized, mirroring the reference's in-memory client
  * structs, `src/iceberg_adapter.rs:11-65`), and the walks run once per
  * instance, memoized like the reference's catalog cache.
  */
private[meta] abstract class WalkedCatalog extends MetaCatalog {
  import Model._

  /** a parsed LoadTableResponse or TableMetadata file */
  protected type Loaded = (TableMetaFx, Seq[SchemaFx], Seq[SpecFx],
    Seq[SnapshotFx])

  /** the connection registry this client serves (reference `AppConfig`) */
  protected def registry: Seq[ConfigFx]

  /** one catalog's (namespace, table) identifiers in listing order, each
    * with its parsed metadata, or None when the probe found none
    */
  protected def walk(cfg: ConfigFx): Seq[((String, String), Option[Loaded])]

  /** every catalog's listing rows and loaded tables, walked once. The
    * memo locks its own holder, not this catalog: a subclass's lazy val
    * (the payload catalogs' `registry`, or a transport's own state)
    * locks the catalog when first read, and one first read on a walk
    * worker would wait for the walk.
    */
  private object memo {
    lazy val walked: (Seq[ListingFx], Seq[Loaded]) = {
      val walks = registry.map { cfg =>
        val probed = walk(cfg)
        val byKey = probed.collect { case (k, Some(l)) => k -> l }.toMap
        (probed.map { case (k @ (ns, t), _) =>
          ListingFx(cfg.name, cfg.catalog_type, ns, t,
            if (byKey.contains(k)) "iceberg" else "unknown")
        }, byKey.values.toSeq)
      }
      (walks.flatMap(_._1), walks.flatMap(_._2))
    }
  }
  private def loaded: Seq[Loaded] = memo.walked._2

  private def ds[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, rows: Seq[T]): DataFrame =
    spark.createDataFrame(rows)

  override def listing(spark: SparkSession): DataFrame =
    ds(spark, memo.walked._1)
  override def tableMeta(spark: SparkSession): DataFrame =
    ds(spark, loaded.map(_._1))
  override def snapshots(spark: SparkSession): DataFrame =
    Normalize.snapshots(ds(spark, loaded.flatMap(_._4)))
  override def schemaVersions(spark: SparkSession): DataFrame =
    ds(spark, loaded.flatMap(_._2))
  override def partitionSpecs(spark: SparkSession): DataFrame =
    ds(spark, loaded.flatMap(_._3))
  override def appConfig(spark: SparkSession): DataFrame =
    ds(spark, registry)
}

/** Fixture-backed catalog over the parquet written by [[FixtureGen]].
  *
  * Reads are MEMOIZED per (session, table): the reference app memoizes
  * loaded catalog objects in HashMap caches (`main.rs:953-956`, SURVEY
  * §3.3), and the engine mirrors that at the fixture-read seam —
  * repeated query construction over one session reuses the same
  * DataFrame (plan) instead of re-listing files and re-reading parquet
  * footers on every call. The fixtures are immutable committed files,
  * so the memo can never serve stale plans; it is keyed by session so
  * a stopped session's plans are not resurrected.
  */
class FixtureCatalog(dir: String) extends MetaCatalog {
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def cached(spark: SparkSession, name: String)
      (build: => DataFrame): DataFrame =
    memo.getOrElseUpdate((spark, name), build)
  private def read(spark: SparkSession, name: String): DataFrame =
    cached(spark, name)(spark.read.parquet(s"$dir/$name.parquet"))

  override def listing(spark: SparkSession): DataFrame =
    read(spark, "catalog_listing")
  override def tableMeta(spark: SparkSession): DataFrame =
    read(spark, "table_meta")
  override def snapshots(spark: SparkSession): DataFrame =
    cached(spark, "snapshots_normalized")(
      Normalize.snapshots(read(spark, "snapshots")))
  override def schemaVersions(spark: SparkSession): DataFrame =
    read(spark, "schema_versions")
  override def partitionSpecs(spark: SparkSession): DataFrame =
    read(spark, "partition_specs")
  override def appConfig(spark: SparkSession): DataFrame =
    read(spark, "app_config")
}

object FixtureCatalog {
  /** canonical fixture location (committed to the repo; scale-invariant) */
  val DefaultDir = "/root/repo/fixtures/meta"
  def default: FixtureCatalog = new FixtureCatalog(DefaultDir)
}
