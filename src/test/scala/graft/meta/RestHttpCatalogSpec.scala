package graft.meta

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import Model.ConfigFx

/** LIVE S1 end-to-end: [[RestHttpCatalog]] against a real localhost
  * HTTP server speaking the Iceberg REST endpoint layout over the
  * golden wire payloads — Bearer auth enforced, 404 probe for the
  * unknown table, non-200 fail-fast. The HTTP client path must serve
  * the same frames as the parquet-fixture catalog restricted to the
  * `rest`-typed connection.
  */
class RestHttpCatalogSpec extends SparkSpec with BeforeAndAfterAll {

  private val Token = "sekrit-token-123"
  private val FixDir = RestPayloadCatalog.DefaultDir

  private def body(rel: String): Option[Array[Byte]] = {
    val p = Paths.get(FixDir, rel)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  private val TablesRe = "/v1/namespaces/([^/]+)/tables".r
  private val LoadRe = "/v1/namespaces/([^/]+)/tables/([^/]+)".r

  // ---- paged golden listings (r16 verdict task 1) -----------------------
  // The server ALWAYS paginates via pageToken/next-page-token:
  // namespaces split into 3 pages with an EMPTY-but-continuing middle
  // page, each namespace's tables into 2 pages (last partial) when it
  // has >1 table — so the frame-equality tests only pass if the client
  // walks the token chain to exhaustion.
  private def pagesOf[T](chunks: Seq[Seq[T]],
      render: (Seq[T], Option[String]) => String,
      pfx: String): Map[Option[String], String] =
    chunks.zipWithIndex.map { case (c, i) =>
      val self = if (i == 0) None else Some(s"$pfx$i")
      val next =
        if (i == chunks.length - 1) None else Some(s"$pfx${i + 1}")
      self -> render(c, next)
    }.toMap

  private lazy val nsPages: Map[Option[String], String] = {
    val nss = RestWire.parseNamespaces(
      new String(body("c_rest/namespaces.json").get, "UTF-8"))
    pagesOf(Seq(nss.take(1), Seq.empty[String], nss.drop(1)),
      (c: Seq[String], t: Option[String]) => RestWire.namespacesJson(c, t),
      "nsp")
  }

  private def tablePages(ns: String): Option[Map[Option[String], String]] =
    body(s"c_rest/tables/$ns.json").map { b =>
      val names = RestWire.parseTableIdents(new String(b, "UTF-8")).map(_._2)
      val chunks =
        if (names.size >= 2) Seq(names.dropRight(1), names.takeRight(1))
        else Seq(names)
      pagesOf(chunks,
        (c: Seq[String], t: Option[String]) =>
          RestWire.tableIdentsJson(ns, c, t), s"tbp-$ns-")
    }

  // tokens observed per listing route — proves every page was walked
  private val served =
    scala.collection.concurrent.TrieMap.empty[String, Set[String]]
  private def note(what: String, tok: Option[String]): Unit = {
    served.updateWith(what)(old =>
      Some(old.getOrElse(Set.empty) + tok.getOrElse("<first>")))
    ()
  }

  /** the golden routes served UNPAGED (single-page responses, no
    * next-page-token) — for the auth-focused servers where pagination
    * is not the behavior under test
    */
  private def routeUnpaged(path: String): Option[Array[Byte]] = path match {
    case "/v1/namespaces" => body("c_rest/namespaces.json")
    case LoadRe(ns, t) => body(s"c_rest/load/$ns.$t.json")
    case TablesRe(ns) => body(s"c_rest/tables/$ns.json")
    case _ => None
  }

  /** the REST route table over c_rest's payload files, listings paged */
  private def route(path: String,
      pageToken: Option[String]): Option[Array[Byte]] = path match {
    case "/v1/namespaces" =>
      note("namespaces", pageToken)
      nsPages.get(pageToken).map(_.getBytes("UTF-8"))
    case LoadRe(ns, t) => body(s"c_rest/load/$ns.$t.json")
    case TablesRe(ns) =>
      note(s"tables:$ns", pageToken)
      tablePages(ns).flatMap(_.get(pageToken)).map(_.getBytes("UTF-8"))
    case _ => None
  }

  private def handle(ex: HttpExchange): Unit = {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
    val pageToken = Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case kv if kv.startsWith("pageToken=") =>
          java.net.URLDecoder.decode(
            kv.stripPrefix("pageToken="), "UTF-8")
      })
    if (!auth.contains(s"Bearer $Token")) {
      ex.sendResponseHeaders(401, -1)
    } else route(ex.getRequestURI.getPath, pageToken) match {
      case Some(b) =>
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  }

  private var server: HttpServer = _
  private var baseUri: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", handle _)
    server.start()
    baseUri = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    if (fanDirMade) Files.walk(fanDir)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    super.afterAll()
  }

  private def registry(token: String): Seq[ConfigFx] = Seq(
    ConfigFx("c_rest", "rest", Map(
      "uri" -> baseUri, "warehouse" -> "s3://warehouse",
      "auth_token" -> token)),
    // a non-rest connection: must contribute nothing over this transport
    ConfigFx("c_glue", "glue", Map(
      "warehouse" -> "s3://warehouse", "region" -> "us-east-1")))

  private lazy val http = new RestHttpCatalog(registry(Token))
  private lazy val fix = FixtureCatalog.default

  private def canon(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k->$x" }.sorted.mkString("{", ",", "}")
    case other => String.valueOf(other)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map { r =>
      r.schema.fieldNames.sorted.map(n => s"$n=${canon(r.getAs[Any](n))}")
        .mkString("|")
    }.toSet

  private def restOnly(df: DataFrame): DataFrame =
    df.filter(col("catalog") === "c_rest")

  test("listing over live HTTP matches the fixture catalog's rest slice") {
    assert(rows(http.listing(spark)) ===
      rows(fix.listing(spark).filter(col("catalog_name") === "c_rest")))
  }

  test("the unloadable table classifies unknown via a real 404 probe") {
    val unknown = http.listing(spark)
      .filter(col("table_type") === "unknown")
      .collect().map(_.getAs[String]("table_name")).toSet
    assert(unknown === Set("legacy_csv"))
  }

  test("snapshots / schemas / specs / heads round-trip over HTTP") {
    assert(rows(http.snapshots(spark)) === rows(restOnly(fix.snapshots(spark))))
    assert(rows(http.schemaVersions(spark)) ===
      rows(restOnly(fix.schemaVersions(spark))))
    assert(rows(http.partitionSpecs(spark)) ===
      rows(restOnly(fix.partitionSpecs(spark))))
    assert(rows(http.tableMeta(spark)) === rows(restOnly(fix.tableMeta(spark))))
  }

  test("a bad token fails fast with the HTTP status, not empty frames") {
    val bad = new RestHttpCatalog(registry("wrong-token"))
    val e = intercept[RuntimeException](bad.listing(spark))
    assert(e.getMessage.contains("HTTP 401"))
  }

  test("listings assemble across pageToken pages; every page is walked") {
    served.clear()
    assert(new RestHttpCatalog(registry(Token)).listing(spark).count() == 4)
    // 3 namespace pages: first, the empty-but-continuing middle, the
    // partial last
    assert(served("namespaces") == Set("<first>", "nsp1", "nsp2"))
    // the multi-table namespace walked both of its table pages
    assert(served("tables:sales").size == 2)
  }

  test("the /v1/config prefix re-roots every endpoint (multi-tenant server)") {
    // this server serves data ONLY under /v1/t1/... — a client that
    // skipped config adoption would 404 every listing and read empty
    val TablesR = "/v1/t1/namespaces/([^/]+)/tables".r
    val LoadR = "/v1/t1/namespaces/([^/]+)/tables/([^/]+)".r
    @volatile var configQuery: String = null
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!auth.contains(s"Bearer $Token")) ex.sendResponseHeaders(401, -1)
      else {
        val resp: Option[Array[Byte]] = ex.getRequestURI.getPath match {
          case "/v1/config" =>
            configQuery = ex.getRequestURI.getRawQuery
            Some(RestWire.configJson(Map("clients" -> "4"),
              Map("prefix" -> "t1")).getBytes("UTF-8"))
          case "/v1/t1/namespaces" => body("c_rest/namespaces.json")
          case LoadR(ns, t) => body(s"c_rest/load/$ns.$t.json")
          case TablesR(ns) => body(s"c_rest/tables/$ns.json")
          case _ => None // unprefixed data paths do NOT exist here
        }
        resp match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}",
        "warehouse" -> "s3://warehouse", "auth_token" -> Token))))
      assert(rows(c.listing(spark)) ===
        rows(fix.listing(spark).filter(col("catalog_name") === "c_rest")))
      // the config request carried the configured warehouse
      assert(configQuery == "warehouse=s3%3A%2F%2Fwarehouse")
    } finally srv.stop(0)
  }

  test("OAuth2 client credentials: one mint, form-encoded, memoized across the walk") {
    val mints = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var mintForm: String = null
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/v1/oauth/tokens" &&
          ex.getRequestMethod == "POST") {
        mints.incrementAndGet()
        mintForm = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val b = """{"access_token":"minted-xyz","token_type":"bearer"}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      } else {
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (!auth.contains("Bearer minted-xyz")) ex.sendResponseHeaders(401, -1)
        else routeUnpaged(ex.getRequestURI.getPath) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}",
        "warehouse" -> "s3://warehouse",
        "credential" -> "cid:sec"))))
      assert(rows(c.listing(spark)) ===
        rows(fix.listing(spark).filter(col("catalog_name") === "c_rest")))
      // the whole walk (config + namespaces + tables + loads) minted ONCE
      assert(mints.get() == 1)
      val form = mintForm.split("&").toSet
      assert(form == Set("grant_type=client_credentials",
        "client_id=cid", "client_secret=sec", "scope=catalog"))
    } finally srv.stop(0)
  }

  test("a 401 on a minted token re-mints once and the request retries") {
    val mints = new java.util.concurrent.atomic.AtomicInteger(0)
    // tok-1 is valid for exactly ONE data request (expiry mid-walk);
    // every later request must carry the re-minted tok-2
    val tok1Budget = new java.util.concurrent.atomic.AtomicInteger(1)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/v1/oauth/tokens" &&
          ex.getRequestMethod == "POST") {
        val t = s"tok-${mints.incrementAndGet()}"
        val b = s"""{"access_token":"$t"}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      } else {
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        val ok = auth match {
          case Some("Bearer tok-1") => tok1Budget.getAndDecrement() > 0
          case Some("Bearer tok-2") => true
          case _ => false
        }
        if (!ok) ex.sendResponseHeaders(401, -1)
        else routeUnpaged(ex.getRequestURI.getPath) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}",
        "warehouse" -> "s3://warehouse", "credential" -> "cid:sec"))))
      assert(c.listing(spark).count() == 4)
      assert(mints.get() == 2) // the expiry cost exactly one re-mint
    } finally srv.stop(0)
  }

  // ---- transport edges ----------------------------------------------------

  /** c_rest served unpaged behind a client-credentials token endpoint:
    * the n-th mint answers `tok-n`, and a data request whose bearer
    * `ok(path, query, bearer)` refuses gets a 401 with a Bearer
    * challenge; `f` gets the base uri and the server's mint count
    */
  private def withMintServer(ok: (String, String, String) => Boolean)(
      f: (String, java.util.concurrent.atomic.AtomicInteger) => Unit): Unit = {
    val mints = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.setExecutor(pool)
    srv.createContext("/", { (ex: HttpExchange) =>
      val path = ex.getRequestURI.getPath
      if (path == "/v1/oauth/tokens" && ex.getRequestMethod == "POST") {
        val b = s"""{"access_token":"tok-${mints.incrementAndGet()}"}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      } else {
        val bearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
          .getOrElse("").stripPrefix("Bearer ")
        if (!ok(path, Option(ex.getRequestURI.getQuery).getOrElse(""), bearer)) {
          ex.getResponseHeaders.set("WWW-Authenticate",
            """Bearer realm="catalog", error="invalid_token"""")
          ex.sendResponseHeaders(401, -1)
        } else routeUnpaged(path) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}", mints)
    finally { srv.stop(0); pool.shutdown() }
  }

  private def credClient(uri: String) = new RestHttpCatalog(Seq(ConfigFx(
    "c_rest", "rest", Map("uri" -> uri, "warehouse" -> "s3://warehouse",
      "credential" -> "cid:sec"))))

  test("a 401 carrying a WWW-Authenticate: Bearer challenge still re-mints once") {
    val tok1Budget = new java.util.concurrent.atomic.AtomicInteger(1)
    withMintServer((_, _, bearer) => bearer == "tok-2" ||
        (bearer == "tok-1" && tok1Budget.getAndDecrement() > 0)) {
      (uri, mints) =>
        assert(rows(credClient(uri).listing(spark)) ===
          rows(fix.listing(spark).filter(col("catalog_name") === "c_rest")))
        assert(mints.get() == 2)
    }
  }

  test("one mint per 401 cycle, counted at the server") {
    // each phase of the walk accepts only its own token generation: the
    // config fetch and top-level listing tok-1, the parent= probes tok-2,
    // the table listings and LoadTables tok-3 — two expiries, each seen
    // by several requests in flight at once
    def generation(path: String, query: String): Int =
      if (path == "/v1/config") 1
      else if (path == "/v1/namespaces") if (query.contains("parent=")) 2 else 1
      else 3
    withMintServer((path, query, bearer) =>
        bearer == s"tok-${generation(path, query)}") { (uri, mints) =>
      assert(credClient(uri).listing(spark).count() == 4)
      assert(mints.get() == 3)
    }
  }

  test("a 401 on the token POST fails with its status, not as a dead connection") {
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      if (ex.getRequestMethod == "POST") {
        posts.incrementAndGet()
        ex.getRequestBody.readAllBytes()
        ex.getResponseHeaders.set("WWW-Authenticate", """Basic realm="oauth"""")
      }
      ex.sendResponseHeaders(401, -1)
      ex.close()
    })
    srv.start()
    try {
      val uri = s"http://127.0.0.1:${srv.getAddress.getPort}"
      val e = intercept[RuntimeException](credClient(uri).listing(spark))
      assert(e.getMessage == s"POST $uri/v1/oauth/tokens -> HTTP 401")
      assert(posts.get() == 1) // a 401 is an answer: no retry, no re-send
    } finally srv.stop(0)
  }

  test("a 302 is not followed: the request fails with its status") {
    val elsewhere = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      ex.getRequestURI.getPath match {
        case "/v1/namespaces" =>
          ex.getResponseHeaders.set("Location", "/v1/elsewhere")
          ex.sendResponseHeaders(302, -1)
        case "/v1/elsewhere" =>
          elsewhere.incrementAndGet()
          val b = body("c_rest/namespaces.json").get
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case _ => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    srv.start()
    try {
      val uri = s"http://127.0.0.1:${srv.getAddress.getPort}"
      val e = intercept[RuntimeException](new RestHttpCatalog(Seq(ConfigFx(
        "c_rest", "rest", Map("uri" -> uri)))).listing(spark))
      assert(e.getMessage == s"GET $uri/v1/namespaces -> HTTP 302")
      assert(elsewhere.get() == 0)
    } finally srv.stop(0)
  }

  test("multi-level namespaces: %1F paths + parent walk enumerate the tree") {
    val US = "\u001F"
    val seenParents = scala.collection.concurrent.TrieMap.empty[String, Int]
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: HttpExchange) =>
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!auth.contains(s"Bearer $Token")) ex.sendResponseHeaders(401, -1)
      else {
        // getPath/getQuery DECODE the %1F — the raw URI must carry it
        val raw = ex.getRequestURI.toString
        val path = ex.getRequestURI.getPath
        val parent = Option(ex.getRequestURI.getQuery)
          .flatMap(_.split("&").collectFirst {
            case kv if kv.startsWith("parent=") =>
              java.net.URLDecoder.decode(kv.stripPrefix("parent="), "UTF-8")
          })
        val resp: Option[Array[Byte]] = path match {
          case "/v1/namespaces" =>
            parent.foreach { p =>
              assert(raw.contains("%1F") || !p.contains(US))
              seenParents.updateWith(p)(n => Some(n.getOrElse(0) + 1))
            }
            val nss = parent match {
              case None => Seq("ads", "sales")
              case Some("ads") => Seq("ads.eu")
              case Some(p) if p == s"ads${US}eu" => Seq.empty
              case Some("sales") => Seq.empty
              case _ => Seq.empty
            }
            Some(RestWire.namespacesJson(nss).getBytes("UTF-8"))
          case p if p == s"/v1/namespaces/ads${US}eu/tables" =>
            assert(raw.contains("%1F"))
            Some(RestWire.tableIdentsJson("ads.eu", Seq("clicks_eu"))
              .getBytes("UTF-8"))
          case p if p == s"/v1/namespaces/ads${US}eu/tables/clicks_eu" =>
            body("c_rest/load/ads.clicks.json") // reuse a golden payload
          case "/v1/namespaces/ads/tables" | "/v1/namespaces/sales/tables" =>
            Some(RestWire.tableIdentsJson("ads", Seq.empty).getBytes("UTF-8"))
          case _ => None
        }
        resp match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}",
        "warehouse" -> "s3://warehouse", "auth_token" -> Token))))
      val listing = c.listing(spark).collect()
        .map(r => (r.getAs[String]("namespace"), r.getAs[String]("table_name")))
      // the nested namespace's table enumerated, dotted display form
      assert(listing.toSet == Set(("ads.eu", "clicks_eu")))
      // every namespace was asked for children exactly once
      assert(seenParents.toMap ==
        Map("ads" -> 1, "sales" -> 1, s"ads${US}eu" -> 1))
    } finally srv.stop(0)
  }

  test("multi-level listing rows follow the depth-first namespace walk") {
    val US = "\u001F"
    // pre-order (sales, sales.eu, ads) differs from breadth-first and
    // from sorted order; sales's listing lands last, so the fanned-out
    // listings finish out of walk order
    val nsKids = Map("" -> Seq("sales", "ads"), "sales" -> Seq("sales.eu"))
    val tables = Map("sales" -> Seq("returns", "orders"),
      "sales.eu" -> Seq("orders_eu"), "ads" -> Seq("imps", "clicks"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.setExecutor(pool)
    srv.createContext("/", { (ex: HttpExchange) =>
      val parent = Option(ex.getRequestURI.getQuery)
        .flatMap(_.split("&").collectFirst {
          case kv if kv.startsWith("parent=") => java.net.URLDecoder
            .decode(kv.stripPrefix("parent="), "UTF-8").replace(US, ".")
        })
      val resp = ex.getRequestURI.getPath match {
        case "/v1/namespaces" => Some(RestWire.namespacesJson(
          nsKids.getOrElse(parent.getOrElse(""), Seq.empty)))
        case TablesRe(enc) =>
          val ns = enc.replace(US, ".")
          if (ns == "sales") Thread.sleep(200)
          Some(RestWire.tableIdentsJson(ns, tables(ns)))
        case _ => None
      }
      resp.map(_.getBytes("UTF-8")) match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}"))))
      val listing = c.listing(spark).collect().toSeq
        .map(r => (r.getAs[String]("namespace"), r.getAs[String]("table_name")))
      assert(listing == Seq(("sales", "returns"), ("sales", "orders"),
        ("sales.eu", "orders_eu"), ("ads", "imps"), ("ads", "clicks")))
    } finally { srv.stop(0); pool.shutdown() }
  }

  test("one namespace level's parent= probes are in flight together") {
    val US = "\u001F"
    val nsKids = Map("" -> Seq("a", "b", "c"),
      "a" -> Seq("a.x", "a.y"), "b" -> Seq("b.z"))
    // a level's probes wait until the whole level has arrived: a walk
    // that probed them one by one would time out on every latch
    val levels = Map(1 -> new java.util.concurrent.CountDownLatch(3),
      2 -> new java.util.concurrent.CountDownLatch(3))
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.setExecutor(pool)
    srv.createContext("/", { (ex: HttpExchange) =>
      val parent = Option(ex.getRequestURI.getQuery)
        .flatMap(_.split("&").collectFirst {
          case kv if kv.startsWith("parent=") => java.net.URLDecoder
            .decode(kv.stripPrefix("parent="), "UTF-8").replace(US, ".")
        })
      val resp = ex.getRequestURI.getPath match {
        case "/v1/namespaces" =>
          parent.foreach { p =>
            val level = levels(p.count(_ == '.') + 1)
            level.countDown()
            if (!level.await(5, java.util.concurrent.TimeUnit.SECONDS))
              timedOut.set(true)
          }
          nsKids.get(parent.getOrElse("")).map(RestWire.namespacesJson(_))
        case TablesRe(enc) =>
          val ns = enc.replace(US, ".")
          Some(RestWire.tableIdentsJson(ns, Seq("t")))
        case _ => None
      }
      resp.map(_.getBytes("UTF-8")) match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}"))))
      val listing = c.listing(spark).collect().toSeq
        .map(r => r.getAs[String]("namespace"))
      assert(listing == Seq("a", "a.x", "a.y", "b", "b.z", "c"))
      assert(!timedOut.get)
      assert(levels.values.forall(_.getCount == 0))
    } finally { srv.stop(0); pool.shutdown() }
  }

  test("a 5xx is retried once; a dead endpoint fails with a clear message") {
    val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    flaky.createContext("/", { (ex: HttpExchange) =>
      hits.incrementAndGet()
      if (!failedOnce.getAndSet(true)) ex.sendResponseHeaders(502, -1)
      else handle(ex)
      ex.close()
    })
    flaky.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${flaky.getAddress.getPort}",
        "warehouse" -> "s3://warehouse", "auth_token" -> Token))))
      assert(c.listing(spark).count() == 4)
      assert(hits.get() >= 2) // the 502'd attempt plus its retry
    } finally flaky.stop(0)
    val dead = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
      "uri" -> "http://127.0.0.1:9", "warehouse" -> "s3://warehouse"))))
    val e = intercept[RuntimeException](dead.listing(spark).count())
    assert(e.getMessage.contains("connection failed twice"))
  }

  // ---- the fanned-out walk --------------------------------------------
  // A payload tree big enough that the probes overlap: 6 namespaces of 8
  // tables, every loadable one a copy of a golden LoadTableResponse
  // (identity comes from the request), every fifth one without a load
  // payload, so it probes 404 and classifies "unknown".
  private lazy val fanDir: java.nio.file.Path = {
    val dir = Files.createTempDirectory("rest-fan")
    def write(rel: String, b: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, b)
      ()
    }
    val golden = Seq("ads.clicks", "sales.orders_hot", "sales.orders_cold")
      .map(k => new String(body(s"c_rest/load/$k.json").get, "UTF-8"))
    val nss = (0 until 6).map(n => s"ns$n")
    write("catalogs.json", RestWire.catalogsJson(Seq(
      ConfigFx("c_fan", "rest", Map("uri" -> "http://localhost:0")))))
    write("c_fan/namespaces.json", RestWire.namespacesJson(nss))
    for ((ns, n) <- nss.zipWithIndex) {
      val ts = (0 until 8).map(t => s"t$t")
      write(s"c_fan/tables/$ns.json", RestWire.tableIdentsJson(ns, ts))
      for ((t, i) <- ts.zipWithIndex if (n * 8 + i) % 5 != 4)
        write(s"c_fan/load/$ns.$t.json", golden((n * 8 + i) % 3))
    }
    fanDirMade = true
    dir
  }
  private var fanDirMade = false

  /** serves [[fanDir]] unprefixed over 8 handler threads, each LoadTable
    * after a seeded delay (ns1.t2 after 300 ms), so responses land out of
    * order; `fail` names the identifiers whose LoadTable answers 500
    */
  private def withFanServer(fail: Set[String] = Set.empty)(
      f: String => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    val delayMs = (0 until 6).flatMap(n => (0 until 8).map(t =>
      s"ns$n.t$t" -> (if (s"ns$n.t$t" == "ns1.t2") 300L
        else rnd.nextInt(25).toLong))).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.setExecutor(pool)
    srv.createContext("/", { (ex: HttpExchange) =>
      val resp = ex.getRequestURI.getPath match {
        case "/v1/namespaces" =>
          Some(Files.readAllBytes(fanDir.resolve("c_fan/namespaces.json")))
        case LoadRe(ns, t) =>
          Thread.sleep(delayMs(s"$ns.$t"))
          if (fail(s"$ns.$t")) { ex.sendResponseHeaders(500, -1); None }
          else Some(fanDir.resolve(s"c_fan/load/$ns.$t.json"))
            .filter(Files.exists(_)).map(Files.readAllBytes)
        case TablesRe(ns) =>
          Some(Files.readAllBytes(fanDir.resolve(s"c_fan/tables/$ns.json")))
        case _ => None
      }
      resp match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case None if ex.getResponseCode < 0 => ex.sendResponseHeaders(404, -1)
        case None => ()
      }
      ex.close()
    })
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally { srv.stop(0); pool.shutdown() }
  }

  private def fanClient(uri: String) =
    new RestHttpCatalog(Seq(ConfigFx("c_fan", "rest", Map("uri" -> uri))))

  private def walkThreads: Int = Thread.getAllStackTraces.keySet.toArray
    .count(_.asInstanceOf[Thread].getName == "graft-catalog-walk")

  test("out-of-order LoadTable responses: frames equal the payload client's row for row") {
    val pay = new RestPayloadCatalog(fanDir.toString)
    withFanServer() { uri =>
      val http = fanClient(uri)
      def same(frame: MetaCatalog => DataFrame): Unit =
        assert(frame(http).collect().toSeq == frame(pay).collect().toSeq)
      same(_.listing(spark))
      same(_.tableMeta(spark))
      same(_.snapshots(spark))
      same(_.schemaVersions(spark))
      same(_.partitionSpecs(spark))
    }
    // the listing is in walk order: namespaces, then each one's tables
    val order = pay.listing(spark).collect()
      .map(r => (r.getAs[String]("namespace"), r.getAs[String]("table_name")))
    assert(order.toSeq == (0 until 6).flatMap(n => (0 until 8)
      .map(t => (s"ns$n", s"t$t"))))
    assert(pay.listing(spark).filter(col("table_type") === "unknown")
      .count() == 9)
    assert(walkThreads == 0)
  }

  test("a LoadTable that answers 500 twice mid-fan-out fails with the serial walk's error") {
    // ns1.t2 fails after 300 ms, ns4.t1 at once: the serial walk would
    // have stopped at ns1.t2, so its error is the one raised
    withFanServer(fail = Set("ns1.t2", "ns4.t1")) { uri =>
      val e = intercept[RuntimeException](fanClient(uri).listing(spark))
      assert(e.getClass == classOf[RuntimeException])
      assert(e.getMessage == s"GET $uri/v1/namespaces/ns1/tables/t2 -> HTTP 500")
    }
    assert(walkThreads == 0)
  }

  test("a transport's lazy val first read on a walk worker cannot deadlock the walk") {
    val cat = new RestPayloadCatalog(fanDir.toString) {
      private lazy val loadDir = "load" // first read inside the fan-out
      override protected def loadTableDoc(cfg: ConfigFx, ns: String,
          t: String): Option[String] =
        payload(s"${cfg.name}/$loadDir/$ns.$t.json")
    }
    val count = new java.util.concurrent.atomic.AtomicLong(-1)
    val t = new Thread(() => count.set(cat.listing(spark).count()))
    t.setDaemon(true)
    t.start()
    t.join(60000)
    assert(count.get == 48)
  }

  test("tok-1 expiring under several in-flight LoadTable probes re-mints once") {
    val mints = new java.util.concurrent.atomic.AtomicInteger(0)
    // every c_rest probe arrives with tok-1 before any is refused, so
    // all of them see the expiry at once
    val probes = new java.util.concurrent.CountDownLatch(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    srv.setExecutor(pool)
    srv.createContext("/", { (ex: HttpExchange) =>
      val path = ex.getRequestURI.getPath
      if (path == "/v1/oauth/tokens" && ex.getRequestMethod == "POST") {
        val b = s"""{"access_token":"tok-${mints.incrementAndGet()}"}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      } else {
        val ok = Option(ex.getRequestHeaders.getFirst("Authorization")) match {
          case Some("Bearer tok-1") if LoadRe.matches(path) =>
            probes.countDown()
            probes.await(5, java.util.concurrent.TimeUnit.SECONDS)
            false
          case Some("Bearer tok-1") | Some("Bearer tok-2") => true
          case _ => false
        }
        if (!ok) ex.sendResponseHeaders(401, -1)
        else routeUnpaged(path) match {
          case Some(b) =>
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None => ex.sendResponseHeaders(404, -1)
        }
      }
      ex.close()
    })
    srv.start()
    try {
      val c = new RestHttpCatalog(Seq(ConfigFx("c_rest", "rest", Map(
        "uri" -> s"http://127.0.0.1:${srv.getAddress.getPort}",
        "warehouse" -> "s3://warehouse", "credential" -> "cid:sec"))))
      assert(rows(c.listing(spark)) ===
        rows(fix.listing(spark).filter(col("catalog_name") === "c_rest")))
      assert(probes.getCount == 0) // all four probes were in flight on tok-1
      assert(mints.get() == 2)
    } finally { srv.stop(0); pool.shutdown() }
  }
}
