package graft.meta

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Listing pagination shared by the catalog clients (r16 verdict task
  * 1): both live transports page — AWS Glue caps GetDatabases/GetTables
  * at 100 entries and continues via `NextToken`; the Iceberg REST spec
  * continues via `pageToken`/`next-page-token` — and the reference gets
  * complete listings because its SDKs iterate to exhaustion
  * (`/root/reference/src/catalog.rs:261-286,313-340`). A client that
  * reads one page silently truncates the catalog: tables vanish from
  * listings and snapshots with no error, the worst failure mode.
  *
  * Driver-side by design: catalog listings are KB-sized control-plane
  * metadata (same rationale as the parse layer — see [[RestWire]]).
  * [[fanOut]] runs a walk's independent per-item reads side by side;
  * each [[collect]] chain stays sequential inside its own call.
  */
private[meta] object Paging {

  /** stop a server that never terminates (e.g. echoes a constant
    * token) from hanging the client forever; at Glue's 100-entry page
    * size this still admits a million-table namespace
    */
  val MaxPages = 10000

  /** accumulate `parse`d pages until `nextOf` yields no continuation.
    *
    * @param fetch  one transport read; `None` on the FIRST page means
    *               the whole listing is absent (the not-found probe —
    *               empty result, like the unpaged clients). `None` on a
    *               continuation page is a protocol violation (the
    *               server issued the token) and fails fast rather than
    *               returning the truncated prefix this helper exists to
    *               prevent.
    * @param nextOf the response's continuation token, `None` when done
    */
  def collect[T](what: String, fetch: Option[String] => Option[String],
      parse: String => Seq[T], nextOf: String => Option[String]): Seq[T] = {
    val out = Seq.newBuilder[T]
    var token: Option[String] = None
    var pages = 0
    var done = false
    while (!done) {
      fetch(token) match {
        case None if pages == 0 => return Seq.empty
        case None => sys.error(
          s"$what: server issued continuation token ${token.get} " +
            "but the continuation page is missing")
        case Some(body) =>
          out ++= parse(body)
          val next = nextOf(body)
          if (next.isDefined && next == token) sys.error(
            s"$what: server repeated continuation token ${token.get}")
          token = next
          done = token.isEmpty
      }
      pages += 1
      if (pages > MaxPages) sys.error(
        s"$what: listing exceeded $MaxPages pages — refusing to loop")
    }
    out.result()
  }

  /** calls of one [[fanOut]] in flight at once: enough to overlap the
    * round trips of a thousand-table walk, few enough that one client
    * never holds more than a handful of connections to its server
    */
  private val MaxInFlight = 8

  /** `xs.map(f)` with up to [[MaxInFlight]] calls in flight, on daemon
    * threads named `graft-catalog-walk`. Results keep input order. After
    * a failure no further call starts, the calls in flight finish, and
    * the exception is rethrown as `f` threw it; when several calls
    * failed, the one earliest in input order wins — the error the serial
    * map would have raised. Every worker has ended when this returns.
    */
  def fanOut[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val in = xs.toIndexedSeq
    val out = new Array[Either[Throwable, B]](in.size)
    val next = new AtomicInteger(0)
    val failed = new AtomicBoolean(false)
    // a worker checks for a failure BEFORE claiming an index, so every
    // claimed index runs: indices are claimed in order, hence every slot
    // before the first failure is filled
    def work(): Unit = {
      var i = 0
      while (!failed.get && { i = next.getAndIncrement(); i < in.size })
        out(i) = try Right(f(in(i))) catch {
          case e: Throwable => failed.set(true); Left(e)
        }
    }
    val workers = Seq.fill(math.min(MaxInFlight, in.size))(
      new Thread(() => work(), "graft-catalog-walk"))
    workers.foreach { t => t.setDaemon(true); t.start() }
    workers.foreach(_.join())
    out.toSeq.map(_.toTry.get)
  }
}
