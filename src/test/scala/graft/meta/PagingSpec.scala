package graft.meta

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Paging.collect]] edge cases the live-server specs can't easily
  * stage: the protocol-violation fail-fasts exist precisely so a
  * misbehaving server can never cause the silent-truncation failure
  * mode pagination was built to prevent. Plus [[Paging.fanOut]]'s
  * contract: input order, a cap of 8 in flight, the serial error, no
  * worker left running.
  */
class PagingSpec extends AnyFunSuite {

  // a tiny in-memory "server": token -> (payload items, next token)
  private def fetcher(pages: Map[Option[String], (Seq[String], Option[String])])
      : Option[String] => Option[String] =
    tok => pages.get(tok).map { case (items, next) =>
      items.mkString(",") + "|" + next.getOrElse("")
    }
  private def parse(body: String): Seq[String] = {
    val items = body.split("\\|", -1)(0)
    if (items.isEmpty) Seq.empty else items.split(",").toSeq
  }
  private def nextOf(body: String): Option[String] =
    Some(body.split("\\|", -1)(1)).filter(_.nonEmpty)

  test("single page, multi page, and empty-but-continuing middle page") {
    assert(Paging.collect("t", fetcher(Map(
      None -> (Seq("a", "b"), None))), parse, nextOf) == Seq("a", "b"))
    assert(Paging.collect("t", fetcher(Map(
      None -> (Seq("a"), Some("p1")),
      Some("p1") -> (Seq.empty[String], Some("p2")),
      Some("p2") -> (Seq("b"), None))), parse, nextOf) == Seq("a", "b"))
  }

  test("an absent FIRST page is the not-found probe: empty, no error") {
    assert(Paging.collect("t", _ => None, parse, nextOf) == Seq.empty)
  }

  test("a missing CONTINUATION page fails fast, never truncates") {
    val e = intercept[RuntimeException] {
      Paging.collect("t", fetcher(Map(
        None -> (Seq("a"), Some("p1")))), parse, nextOf)
    }
    assert(e.getMessage.contains("continuation page is missing"))
  }

  test("a server echoing the same token forever fails fast") {
    val e = intercept[RuntimeException] {
      Paging.collect("t", fetcher(Map(
        None -> (Seq("a"), Some("p1")),
        Some("p1") -> (Seq("b"), Some("p1")))), parse, nextOf)
    }
    assert(e.getMessage.contains("repeated continuation token"))
  }

  test("a token cycle that never repeats consecutively trips the page cap") {
    // p1 -> p2 -> p1 -> p2 ... : the repeated-token check (consecutive
    // only) can't see it; the MaxPages bound must
    val e = intercept[RuntimeException] {
      Paging.collect("t", fetcher(Map(
        None -> (Seq("a"), Some("p1")),
        Some("p1") -> (Seq("b"), Some("p2")),
        Some("p2") -> (Seq("c"), Some("p1")))), parse, nextOf)
    }
    assert(e.getMessage.contains("refusing to loop"))
  }

  private def walkThreads: Int = Thread.getAllStackTraces.keySet.toArray
    .count(_.asInstanceOf[Thread].getName == "graft-catalog-walk")

  test("fanOut keeps input order and never has more than 8 calls in flight") {
    // the first 8 calls wait for each other, so all 8 are in flight at
    // once; later calls finish in a shuffled order
    val together = new CountDownLatch(8)
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val rnd = new scala.util.Random(7)
    val delayMs = Vector.fill(60)(rnd.nextInt(6).toLong)
    val out = Paging.fanOut(0 until 60) { i =>
      peak.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      together.countDown()
      together.await(5, TimeUnit.SECONDS)
      Thread.sleep(delayMs(i))
      inFlight.decrementAndGet()
      s"r$i"
    }
    assert(out == (0 until 60).map(i => s"r$i"))
    assert(peak.get == 8)
    assert(walkThreads == 0)
  }

  test("fanOut rethrows the earliest failure unwrapped; later calls never start") {
    val calls = new AtomicInteger(0)
    // item 3 fails late, item 5 fails at once: the serial map would
    // have raised item 3's error, so fanOut must too
    val e = intercept[IllegalStateException] {
      Paging.fanOut(0 until 200) { i =>
        calls.incrementAndGet()
        if (i == 3) { Thread.sleep(200); throw new IllegalStateException("item 3") }
        if (i == 5) throw new IllegalStateException("item 5")
        Thread.sleep(5)
        i
      }
    }
    assert(e.getMessage == "item 3")
    assert(calls.get < 200)
    assert(walkThreads == 0)
    assert(Paging.fanOut(Seq.empty[Int])(_ => fail("called")) == Seq.empty)
  }
}
