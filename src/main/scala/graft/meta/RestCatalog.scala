package graft.meta

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import Model._

/** The Iceberg REST catalog CLIENT (S1/S2): everything above the
  * transport. Subclasses supply the three endpoint reads —
  *
  *   - `GET /v1/{prefix}/namespaces`
  *   - `GET /v1/{prefix}/namespaces/{ns}/tables`
  *   - `GET /v1/{prefix}/namespaces/{ns}/tables/{t}` (LoadTableResponse)
  *
  * — as `Option[String]` response bodies (`None` = 404). The walk and
  * its wire-format parse ([[RestWire]]) live here, and the probe
  * classification and the [[MetaCatalog]] surface in [[WalkedCatalog]],
  * so the file-backed and live HTTP transports serve byte-identical
  * frames.
  *
  * The walk runs in the calling JVM, not in Spark tasks, memoized per
  * instance. Each catalog's `/v1/config` fetch and first token mint run
  * first, with the top-level listing: later requests read the prefix
  * and bearer they memoized. Then each namespace level's `?parent=`
  * listings, the per-namespace table listings (each paging its own
  * token chain in order) and the per-identifier LoadTable probes fan out
  * ([[Paging.fanOut]], at most 8 requests in flight). A catalog connect
  * is about one request per table, so run serially it is a chain of
  * round trips. Results keep walk order, so rows and request counts are
  * those of a serial walk; of several failures in one fan-out, the one
  * earliest in its order is raised.
  */
abstract class RestClientCatalog extends WalkedCatalog {

  // ---- the transport seam: one method per REST endpoint ----------------
  // The two listing endpoints take the page's continuation token (None
  // = first page): the Iceberg REST spec paginates listings via the
  // `pageToken` query parameter / `next-page-token` response field, and
  // the paging loop ([[Paging]]) lives HERE so both transports serve
  // complete listings (r16 verdict task 1). r18: `namespacesDoc` also
  // takes the spec's `parent` parameter (None = top level) so the walk
  // below can enumerate MULTI-LEVEL namespaces; a transport that
  // returns None for every parented request serves a flat hierarchy,
  // which is exactly the pre-r18 behavior.
  protected def namespacesDoc(cfg: ConfigFx, parent: Option[String],
      pageToken: Option[String]): Option[String]
  protected def tablesDoc(cfg: ConfigFx, ns: String,
      pageToken: Option[String]): Option[String]
  protected def loadTableDoc(cfg: ConfigFx, ns: String, t: String): Option[String]

  /** recursion guard for the multi-level namespace walk: bounds the
    * depth a misbehaving server (echoing parents, cyclic children) can
    * drive the client to — the tree-walk analogue of [[Paging]]'s
    * cycle cap. The Iceberg spec sets no depth limit; real hierarchies
    * are shallow.
    */
  protected val maxNsDepth: Int = 8

  /** every namespace of `cfg`, multi-level included, in depth-first
    * pre-order: list the top level, then each namespace's children
    * (`?parent=`), a whole level side by side ([[Paging.fanOut]]), until
    * a level is empty. Children that don't strictly extend their parent
    * (a server echoing the parent back, or returning an unrelated
    * branch) and namespaces already listed are dropped — they would
    * otherwise loop or double-count; each listing paginates on its own.
    */
  private def allNamespaces(cfg: ConfigFx): Seq[String] = {
    def children(parent: Option[String]): Seq[String] =
      Paging.collect(parent.fold(s"${cfg.name} namespaces")(p =>
          s"${cfg.name} namespaces(parent=$p)"),
        namespacesDoc(cfg, parent, _), RestWire.parseNamespaces,
        RestWire.parseNextPageToken)
        .filter(ns => parent.forall(p => ns.startsWith(p + ".")))
    val seen = scala.collection.mutable.HashSet.empty[String]
    def levels(parents: Seq[Option[String]],
        depth: Int): Map[Option[String], Seq[String]] =
      if (parents.isEmpty) Map.empty else {
        if (depth > maxNsDepth) sys.error(
          s"catalog ${cfg.name}: namespace hierarchy deeper than " +
            s"$maxNsDepth under ${parents.head.getOrElse("<root>")}" +
            " — refusing to recurse")
        val kids = parents.zip(Paging.fanOut(parents)(children))
          .map { case (p, listed) => p -> listed.filter(seen.add) }
        kids.toMap ++ levels(kids.flatMap(_._2.map(Some(_))), depth + 1)
      }
    val kids = levels(Seq(None), 1)
    def preOrder(parent: Option[String]): Seq[String] =
      kids.getOrElse(parent, Nil).flatMap(ns => ns +: preOrder(Some(ns)))
    preOrder(None)
  }

  protected def walk(cfg: ConfigFx): Seq[((String, String), Option[Loaded])] = {
    val idents = Paging.fanOut(allNamespaces(cfg)) { ns =>
      Paging.collect(s"${cfg.name} tables($ns)",
        tablesDoc(cfg, ns, _), RestWire.parseTableIdents,
        RestWire.parseNextPageToken)
    }.flatten
    idents.zip(Paging.fanOut(idents) { case (ns, t) =>
      loadTableDoc(cfg, ns, t)
        .map(RestWire.parseLoadTable(cfg.name, ns, t, _))
    })
  }
}

/** [[RestClientCatalog]] over response payloads on disk — the wire
  * format without a server. Directory layout (one file per endpoint
  * response):
  *
  * {{{
  *   <dir>/catalogs.json                  // the connection registry (S3/S8)
  *   <dir>/<catalog>/namespaces.json      // GET /v1/namespaces
  *   <dir>/<catalog>/tables/<ns>.json     // GET /v1/namespaces/{ns}/tables
  *   <dir>/<catalog>/load/<ns>.<t>.json   // GET .../tables/{t} (LoadTableResponse)
  * }}}
  *
  * m23/m24 drive this path through the DuckDB oracle gate against the
  * parquet-fixture catalog; an absent load file reproduces the
  * 404-probe "unknown" classification.
  */
class RestPayloadCatalog(dir: String) extends RestClientCatalog {

  protected def payload(rel: String): Option[String] = {
    val p = Paths.get(dir, rel)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  override protected lazy val registry: Seq[ConfigFx] =
    RestWire.parseCatalogs(
      payload("catalogs.json").getOrElse("""{"catalogs":[]}"""))

  // continuation pages live next to the first page, keyed by token;
  // parented (multi-level) listings live under ns/<parent>.json so
  // token suffixes and parent names cannot collide with the top-level
  // file. A fixture tree with no ns/ dir is a flat hierarchy.
  override protected def namespacesDoc(cfg: ConfigFx, parent: Option[String],
      pageToken: Option[String]): Option[String] = {
    val base = parent.fold(s"${cfg.name}/namespaces")(p =>
      s"${cfg.name}/ns/$p")
    payload(pageToken.fold(s"$base.json")(t => s"$base.$t.json"))
  }
  override protected def tablesDoc(cfg: ConfigFx, ns: String,
      pageToken: Option[String]): Option[String] =
    payload(pageToken.fold(s"${cfg.name}/tables/$ns.json")(t =>
      s"${cfg.name}/tables/$ns.$t.json"))
  override protected def loadTableDoc(cfg: ConfigFx, ns: String,
      t: String): Option[String] =
    payload(s"${cfg.name}/load/$ns.$t.json")
}

object RestPayloadCatalog {
  val DefaultDir = "/root/repo/fixtures/rest"
  def default: RestPayloadCatalog = new RestPayloadCatalog(DefaultDir)
}

/** LIVE S1: [[RestClientCatalog]] over real HTTP through
  * [[HttpRetry.exchange]]: the JDK's `HttpURLConnection`, blocking the
  * walk thread that asks (no added dependency). Each `rest`-typed
  * registry entry is served from its configured `uri` with
  * `Authorization: Bearer <auth_token>` when the config carries a
  * token; a 404 load response classifies the identifier "unknown" (the
  * probe), any other non-200 fails fast with the status in the message.
  * Non-`rest` entries contribute nothing here ([[GlueHttpCatalog]]
  * serves the glue ones).
  *
  * r17: the client fetches `GET /v1/config` once per catalog (with the
  * `warehouse` query param when configured) and adopts the server's
  * `prefix` — every other endpoint then lives at `/v1/{prefix}/...`,
  * the multi-tenant REST-catalog layout; a server without the config
  * endpoint (404) serves unprefixed paths as before.
  *
  * r18 — the two remaining spec features the reference's SDK speaks
  * (iceberg-rest client behind `src/catalog.rs:154-186`):
  *
  *   - OAuth2 CLIENT CREDENTIALS: a registry entry carrying
  *     `credential` (`"client_id:client_secret"`, or a bare secret)
  *     mints a bearer token via `POST {oauth2-server-uri |
  *     uri + /v1/oauth/tokens}` (form-encoded
  *     `grant_type=client_credentials`, `scope` from config, default
  *     `catalog`) before the first catalog request; the token is
  *     memoized per (name, uri) and re-minted ONCE on a 401 (expiry
  *     mid-listing), after which the request retries. An explicit
  *     `auth_token` always wins over the flow — it is the
  *     already-minted form.
  *   - MULTI-LEVEL NAMESPACES: namespace path/`parent` parameters are
  *     encoded per spec as levels joined by the 0x1F unit separator
  *     (`%1F` on the wire — the client splits its dotted display form
  *     on '.'), and the listing WALK asks `GET
  *     /v1/namespaces?parent=...` of every discovered namespace, so nested
  *     hierarchies (Polaris/Tabular-style) enumerate completely. A
  *     404 for a parented listing means "no children" (flat servers).
  *
  * RestHttpCatalogSpec drives this client against real localhost HTTP
  * servers serving the golden wire payloads — auth header, 404 probe,
  * pagination, retry, prefix adoption, OAuth mint + 401 re-mint,
  * nested-namespace walk, redirect and error paths included.
  */
class RestHttpCatalog(override protected val registry: Seq[ConfigFx])
    extends RestClientCatalog {

  // one /v1/config fetch per catalog (the reference SDK does this at
  // client construction); "" = unprefixed, "p/" = every endpoint under
  // /v1/p/. Memoized — listings would otherwise re-pay it per endpoint.
  // keyed by (name, uri), not name alone (r17 advice): two registry
  // entries sharing a name but pointing at different servers must not
  // reuse each other's /v1/config prefix. computeIfAbsent fetches at
  // most once per key; concurrent callers of the key wait for it.
  private val prefixMemo = new ConcurrentHashMap[(String, String), String]

  private def prefixOf(cfg: ConfigFx): String =
    prefixMemo.computeIfAbsent((cfg.name, cfg.config.getOrElse("uri", "")), _ => {
      val q = cfg.config.get("warehouse").fold("")(w => s"?warehouse=${enc(w)}")
      get(cfg, s"/v1/config$q") match {
        case Some(body) => RestWire.parseConfig(body).get("prefix")
          .filter(_.nonEmpty).map(_.stripSuffix("/") + "/").getOrElse("")
        case None => "" // no config endpoint — a bare single-tenant server
      }
    })

  private def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)

  /** spec namespace encoding: dotted display form → levels joined by
    * the 0x1F unit separator, percent-encoded (`a.b` → `a%1Fb`). The
    * dotted form is the reference's own display rendering
    * ([[RestWire.parseNamespaces]]), so a level cannot itself contain
    * a '.' — the documented constraint of using the display string as
    * the internal identifier.
    */
  private def nsEnc(ns: String): String =
    enc(ns.split('.').mkString("\u001F"))

  // OAuth2 client-credentials tokens, minted lazily and memoized per
  // (name, uri) like the config prefix, so a key mints at most once at a
  // time however many requests want it; dropped + re-minted once on a
  // 401 (see get()).
  private val tokenMemo = new ConcurrentHashMap[(String, String), String]

  private def mintToken(cfg: ConfigFx, base: String, cred: String): String = {
    val tokenUri = cfg.config.getOrElse("oauth2-server-uri",
      base.stripSuffix("/") + "/v1/oauth/tokens")
    val (clientId, secret) = cred.split(":", 2) match {
      case Array(i, s) => (Some(i), s)
      case _ => (None, cred)
    }
    val form = (Seq(
      "grant_type" -> "client_credentials",
      "client_secret" -> secret,
      "scope" -> cfg.config.getOrElse("scope", "catalog")) ++
      clientId.map("client_id" -> _))
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    HttpRetry.sendTwice(s"POST $tokenUri", () => HttpRetry.exchange(
      URI.create(tokenUri),
      Seq("Content-Type" -> "application/x-www-form-urlencoded"),
      Some(form.getBytes(UTF_8)))) match {
      case (200, body) => RestWire.parseAccessToken(body).getOrElse(
        sys.error(s"POST $tokenUri -> 200 with no access_token"))
      case (code, _) => sys.error(s"POST $tokenUri -> HTTP $code")
    }
  }

  /** the bearer for this request, if any: an explicit `auth_token`
    * verbatim, else the (memoized) client-credentials token.
    */
  private def bearerOf(cfg: ConfigFx, base: String): Option[String] =
    cfg.config.get("auth_token").orElse(cfg.config.get("credential")
      .map(c => tokenMemo.computeIfAbsent((cfg.name, base),
        _ => mintToken(cfg, base, c))))

  /** one bounded retry on a 5xx or a connection-level IOException —
    * transport robustness matching the Glue client (r16 verdict task
    * 2) — plus ONE re-mint + retry on a 401 when the bearer came from
    * the client-credentials flow (token expiry mid-listing; an
    * explicit auth_token is the operator's to rotate, so a 401 on it
    * fails fast). The 401 drops only the token this request sent: when
    * several requests in flight see the same expiry, the first re-mints
    * and the rest pick up its token instead of dropping it.
    */
  private def get(cfg: ConfigFx, path: String,
      pageToken: Option[String] = None): Option[String] = {
    val base = cfg.config.getOrElse("uri",
      sys.error(s"catalog ${cfg.name}: no uri in registry config"))
    val q = pageToken.fold("")(t => (if (path.contains("?")) "&" else "?") +
      "pageToken=" + enc(t))
    def send(bearer: Option[String]): (Int, String) =
      HttpRetry.sendTwice(s"GET $base$path$q", () => HttpRetry.exchange(
        URI.create(base.stripSuffix("/") + path + q),
        bearer.map(t => "Authorization" -> s"Bearer $t").toSeq, None))
    val sent = bearerOf(cfg, base)
    val res = send(sent) match {
      case (401, _) if cfg.config.contains("credential") &&
          !cfg.config.contains("auth_token") =>
        sent.foreach(tokenMemo.remove((cfg.name, base), _))
        send(bearerOf(cfg, base))
      case other => other
    }
    res match {
      case (200, body) => Some(body)
      case (404, _) => None
      case (code, _) => sys.error(s"GET $base$path$q -> HTTP $code")
    }
  }

  private def rest(cfg: ConfigFx)(req: => Option[String]): Option[String] =
    if (cfg.catalog_type == "rest") req else None

  override protected def namespacesDoc(cfg: ConfigFx, parent: Option[String],
      pageToken: Option[String]): Option[String] = {
    val pq = parent.fold("")(p => s"?parent=${nsEnc(p)}")
    rest(cfg)(get(cfg, s"/v1/${prefixOf(cfg)}namespaces$pq", pageToken))
  }
  override protected def tablesDoc(cfg: ConfigFx, ns: String,
      pageToken: Option[String]): Option[String] =
    rest(cfg)(get(cfg, s"/v1/${prefixOf(cfg)}namespaces/${nsEnc(ns)}/tables",
      pageToken))
  override protected def loadTableDoc(cfg: ConfigFx, ns: String,
      t: String): Option[String] =
    rest(cfg)(get(cfg,
      s"/v1/${prefixOf(cfg)}namespaces/${nsEnc(ns)}/tables/${enc(t)}"))
}

/** Renders the golden fixture population ([[FixtureGen]]) as Iceberg
  * REST response payloads under `fixtures/rest/` — the same tables,
  * schemas, specs, and snapshots, serialized through the real wire
  * format. Tables the parquet fixtures classify "unknown" get a listing
  * identifier but NO LoadTableResponse file, so the probe semantics
  * reproduce the classification instead of copying it.
  */
object RestFixtureGen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(RestPayloadCatalog.DefaultDir)
    val bySnap = FixtureGen.snapshots.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    val bySchema = FixtureGen.schemas.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    val bySpec = FixtureGen.specs.groupBy(s =>
      (s.catalog, s.namespace, s.name))
    def write(rel: String, body: String): Unit = {
      val p = Paths.get(out, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      ()
    }
    write("catalogs.json", RestWire.catalogsJson(FixtureGen.appConfig))
    FixtureGen.listing.groupBy(_.catalog_name).foreach { case (cat, rows) =>
      val nss = rows.map(_.namespace).distinct.sorted
      write(s"$cat/namespaces.json", RestWire.namespacesJson(nss))
      rows.groupBy(_.namespace).foreach { case (ns, ts) =>
        write(s"$cat/tables/$ns.json",
          RestWire.tableIdentsJson(ns, ts.map(_.table_name).sorted))
      }
    }
    FixtureGen.tableMeta.foreach { m =>
      val key = (m.catalog, m.namespace, m.name)
      write(s"${m.catalog}/load/${m.namespace}.${m.name}.json",
        RestWire.loadTableJson(m, bySchema.getOrElse(key, Seq.empty),
          bySpec.getOrElse(key, Seq.empty),
          bySnap.getOrElse(key, Seq.empty)))
    }
    println(s"[rest-fixtures] written to $out")
  }
}

/** Authors the MULTI-LEVEL namespace fixture population (r18): a
  * `rest_nested/` payload tree exercising the spec's hierarchical
  * namespaces — depth-3 nesting (`org` → `org.ml` → `org.ml.raw`), a
  * flat sibling, a childless intermediate with no tables of its own,
  * and one unloadable table for the 404-probe classification — plus
  * the parquet twin (`catalog_listing_nested.parquet` next to the
  * golden fixtures) the DuckDB oracle reads, so the nested walk is
  * gated end-to-end (m27) like every other catalog path. The three
  * loadable tables reuse a golden LoadTableResponse body: identity
  * comes from the request (ns, t), so the probe/classification logic
  * — the behavior under test — is exercised without inventing new
  * metadata content.
  */
object RestNestedFixtureGen {
  val DefaultDir = "/root/repo/fixtures/rest_nested"
  val ParquetTwin = "catalog_listing_nested"

  /** the expected listing, shared by the generator and the spec */
  val expected: Seq[Model.ListingFx] = Seq(
    Model.ListingFx("c_nested", "rest", "flat", "t0", "iceberg"),
    Model.ListingFx("c_nested", "rest", "org.ml", "corpus", "iceberg"),
    Model.ListingFx("c_nested", "rest", "org.ml.raw", "crawl", "unknown"),
    Model.ListingFx("c_nested", "rest", "org.web", "site", "iceberg"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(DefaultDir)
    val metaDir = args.lift(1).getOrElse(FixtureCatalog.DefaultDir)
    def write(rel: String, body: String): Unit = {
      val p = Paths.get(out, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, body)
      ()
    }
    write("catalogs.json", RestWire.catalogsJson(Seq(Model.ConfigFx(
      "c_nested", "rest", Map("uri" -> "http://localhost:0",
        "warehouse" -> "s3://nested")))))
    write("c_nested/namespaces.json",
      RestWire.namespacesJson(Seq("org", "flat")))
    write("c_nested/ns/org.json",
      RestWire.namespacesJson(Seq("org.ml", "org.web")))
    write("c_nested/ns/org.ml.json",
      RestWire.namespacesJson(Seq("org.ml.raw")))
    // ns/org.ml.raw.json, ns/org.web.json, ns/flat.json: absent — leaves.
    // tables/org.json: absent — an intermediate namespace with no tables.
    write("c_nested/tables/flat.json",
      RestWire.tableIdentsJson("flat", Seq("t0")))
    write("c_nested/tables/org.ml.json",
      RestWire.tableIdentsJson("org.ml", Seq("corpus")))
    write("c_nested/tables/org.ml.raw.json",
      RestWire.tableIdentsJson("org.ml.raw", Seq("crawl")))
    write("c_nested/tables/org.web.json",
      RestWire.tableIdentsJson("org.web", Seq("site")))
    val golden = Files.readString(Paths.get(
      RestPayloadCatalog.DefaultDir, "c_rest/load/ads.clicks.json"))
    Seq("flat.t0", "org.ml.corpus", "org.web.site")
      .foreach(k => write(s"c_nested/load/$k.json", golden))
    // load/org.ml.raw.crawl.json: absent — classifies "unknown"

    val spark = graft.core.GraftSession.builder("graft-nested-fx", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    expected.toDS().coalesce(1).write.mode("overwrite")
      .parquet(s"$metaDir/$ParquetTwin.parquet")
    spark.stop()
    println(s"[rest-nested-fixtures] written to $out + $metaDir/$ParquetTwin.parquet")
  }
}
