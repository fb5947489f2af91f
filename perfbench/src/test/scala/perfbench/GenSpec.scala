package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed. */
class GenSpec extends AnyFunSuite {

  private def catalogBytes(seed: Long): Seq[Seq[Byte]] = {
    val p = CatalogGen.render(CatalogGen.generate(seed, nTables = 120,
      nNamespaces = 6))
    (Seq(p.config) ++ p.nsPages ++ p.tablePages.toSeq.sortBy(_._1)
      .flatMap(_._2) ++ p.loads.toSeq.sortBy(_._1).map(_._2)).map(_.toSeq)
  }

  test("catalog: same seed, byte-identical payloads; new seed, new ones") {
    assert(catalogBytes(3) == catalogBytes(3))
    assert(catalogBytes(3) != catalogBytes(4))
  }

  test("catalog: one in ten tables unloadable, the walk counts every page") {
    val c = CatalogGen.generate(5)
    val p = CatalogGen.render(c)
    assert(c.tables.count(!_.loadable) == c.tables.size / 10)
    assert(p.loads.size == c.loaded.size)
    assert(p.walkRequests == 1 + p.nsPages.size + c.namespaces.size +
      p.tablePages.values.map(_.size).sum + c.tables.size)
    assert(c.loaded.map(_.snaps.size).max >= 1000)
    // another seed deals the roles to other tables, not other sizes
    val d = CatalogGen.generate(6)
    assert(d.loaded.map(_.snaps.size).sorted.takeRight(30) ==
      c.loaded.map(_.snaps.size).sorted.takeRight(30))
    assert(d.tables.map(_.loadable) != c.tables.map(_.loadable))
  }

  test("corpus: same seed, identical docs and plants; new seed, new ones") {
    val a = CorpusGen.generate(9, 600)
    val b = CorpusGen.generate(9, 600)
    val c = CorpusGen.generate(10, 600)
    assert(a == b)
    assert(a.docs != c.docs)
    assert(a.exactGroups.nonEmpty && a.nearPairs.nonEmpty && a.changed.nonEmpty)
    // the seed moves the plants, not their number
    Seq(a, c).foreach { x =>
      assert(x.exactGroups.map(_.size - 1).sum == (CorpusGen.ExactShare * 600).toInt)
      assert(x.nearPairs.size == (CorpusGen.NearShare * 600).toInt)
      assert(x.changed.size == (CorpusGen.ChangeShare * 600).toInt)
    }
    // an exact group shares one text, base first
    a.exactGroups.foreach { g =>
      assert(g == g.sorted)
      assert(g.map(id => a.docs(id.toInt).text).distinct.size == 1)
    }
    // the next crawl changes exactly the planted ids
    val diff = a.docs.zip(a.nextDocs).collect {
      case (o, n) if o.text != n.text => o.doc_id }.toSet
    assert(diff == a.changed)
  }

  test("media: same seed, byte-identical payloads; new seed, new window") {
    def bytes(seed: Long) = MediaGen.generate(seed, 10).files
      .map(f => (f.media_id, f.kind, f.payload.toSeq))
    assert(bytes(1) == bytes(1))
    assert(bytes(1) != bytes(2))
    assert(MediaGen.windowStart(1) % 5 == 0)
  }
}
