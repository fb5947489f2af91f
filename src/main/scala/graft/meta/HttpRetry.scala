package graft.meta

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** The HTTP transport shared by BOTH live catalog clients: one
  * [[exchange]], and one bounded retry on a 5xx or a connection-level
  * IOException (r17 review: the REST and Glue copies had already
  * diverged in shape, and a future retry-policy change must not have
  * to land twice). The attempt thunk REBUILDS the request each call, so
  * a signing client re-signs with a fresh timestamp on retry.
  */
private[meta] object HttpRetry {

  def sendTwice(what: String,
      attempt: () => (Int, String)): (Int, String) = {
    def once(): Either[Throwable, (Int, String)] =
      try Right(attempt())
      catch { case e: java.io.IOException => Left(e) }
    val result = once() match {
      case Right((code, _)) if code >= 500 => once()
      case Left(_) => once()
      case ok => ok
    }
    result match {
      case Right(r) => r
      case Left(e) => throw new RuntimeException(
        s"$what: connection failed twice: ${e.getMessage}", e)
    }
  }

  /** a GET, or a POST of `postBody`, answered as (status, body) on the
    * calling thread: each walk request already has a thread of its own
    * ([[Paging.fanOut]]), and an asynchronous client's hop through its
    * selector thread costs more than a nearby server's work. Every body
    * is read to its end and closed, so the socket returns to the JDK's
    * keep-alive pool; an error status's body too (Glue's not-found probe
    * and the failure messages read it). Redirects are not followed, and
    * a POST streams at its fixed length, so the JDK never re-sends it.
    */
  def exchange(uri: URI, headers: Seq[(String, String)],
      postBody: Option[Array[Byte]]): (Int, String) = {
    val c = uri.toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(30000)
    c.setInstanceFollowRedirects(false)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    postBody.foreach { b =>
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(b.length)
      val out = c.getOutputStream
      try out.write(b) finally out.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    if (in == null) (code, "")
    else try (code, new String(in.readAllBytes(), UTF_8)) finally in.close()
  }
}
