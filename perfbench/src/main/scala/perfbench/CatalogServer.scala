package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Request counts the server saw since the last [[CatalogServer.reset]]. */
final case class ServerCounts(config: Long, nsList: Long, nsChildren: Long,
    tableList: Long, load: Long, load404: Long, other: Long, retries: Long,
    bytes: Long, busyNs: Long) {
  def requests: Long =
    config + nsList + nsChildren + tableList + load + load404 + other
  def listRequests: Long = nsList + nsChildren + tableList
  def loadRequests: Long = load + load404
}

/** A localhost Iceberg REST catalog serving pre-rendered [[Payloads]] on
  * a JDK `HttpServer` with two handler threads. Endpoints live under the
  * `/v1/config` prefix; a `parent=` namespace listing answers 404 (a flat
  * hierarchy), as does a LoadTable of an unloadable table. Every
  * response is counted by endpoint, with its bytes and the handler's busy
  * time; a request for a URI already served since the last reset counts
  * as a retry.
  */
final class CatalogServer(p: Payloads) {
  // headers and body go out as separate writes; without TCP_NODELAY each
  // response waits out the client's delayed ACK (~40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val NsPath = s"/v1/${CatalogGen.Prefix}/namespaces"

  private val c = Array.fill(10)(new AtomicLong)
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val (cConfig, cNs, cNsKids, cTables, cLoad, c404, cOther, cRetry,
    cBytes, cBusy) = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)

  private val pool: ExecutorService = Executors.newFixedThreadPool(2)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def port: Int = server.getAddress.getPort
  def uri: String = s"http://127.0.0.1:$port"

  def reset(): Unit = { c.foreach(_.set(0)); seen.clear() }

  def counts: ServerCounts = ServerCounts(c(cConfig).get, c(cNs).get,
    c(cNsKids).get, c(cTables).get, c(cLoad).get, c(c404).get,
    c(cOther).get, c(cRetry).get, c(cBytes).get, c(cBusy).get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }

  private def dec(s: String) = URLDecoder.decode(s, UTF_8)

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&')).map(_.split("=", 2)).collect {
        case Array(k, v) => dec(k) -> dec(v)
      }.toMap

  private def page(pages: IndexedSeq[Array[Byte]],
      token: Option[String]): Option[Array[Byte]] =
    pages.lift(token.map(_.toInt).getOrElse(0))

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val raw = ex.getRequestURI.getRawPath
      if (!seen.add(ex.getRequestURI.toString)) c(cRetry).incrementAndGet()
      val q = query(ex)
      val tok = q.get("pageToken")
      val (slot, body) =
        if (raw == "/v1/config") (cConfig, Some(p.config))
        else if (raw == NsPath && q.contains("parent")) (cNsKids, None)
        else if (raw == NsPath) (cNs, page(p.nsPages, tok))
        else if (raw.startsWith(NsPath + "/")) {
          raw.stripPrefix(NsPath + "/").split('/').map(dec) match {
            case Array(ns, "tables") =>
              (cTables, p.tablePages.get(ns).flatMap(page(_, tok)))
            case Array(ns, "tables", t) =>
              p.loads.get((ns, t)) match {
                case Some(b) => (cLoad, Some(b))
                case None => (c404, None)
              }
            case _ => (cOther, None)
          }
        } else (cOther, None)
      c(slot).incrementAndGet()
      body match {
        case Some(b) =>
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
          c(cBytes).addAndGet(b.length.toLong)
        case None =>
          ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      c(cBusy).addAndGet(System.nanoTime() - t0)
    }
  }
}
