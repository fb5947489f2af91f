package graft

import java.lang.reflect.Modifier

import graft.ops.MetaOps.SnapshotFilterParams

/** end-to-end facade walk: the reference app's whole user journey through
  * one object
  */
class EngineSpec extends SparkSpec {

  private lazy val eng = new Engine(spark, graft.meta.FixtureCatalog.default)

  test("browse → search → open → inspect → dashboard round trip") {
    assert(eng.tables.count() == 8)
    assert(eng.searchTables("orders").count() == 2)
    assert(eng.treeCounts("ml").collect()(0).getAs[Long]("n_namespaces") == 1)
    assert(eng.snapshots.count() == 75)
    val filtered = eng.filterSnapshots(SnapshotFilterParams(
      operationTypes = Seq("append")))
    assert(filtered.count() > 0 &&
      filtered.select("op").distinct().count() == 1)
    assert(eng.schemaEvolution("c_glue", "ml", "training_runs").count() == 5)
    assert(eng.partitionFields.count() == 6)
    assert(eng.timeTravel(graft.meta.Model.AsOfMs).count() == 5)
    assert(eng.metrics.count() == 6)
    assert(eng.healthScores.count() == 6)
    assert(eng.subScores.count() == 6)
    assert(eng.alerts.count() == 4)
    assert(eng.recommendations.count() == 9)
    assert(eng.trends.count() == 5) // scratch has no history
  }

  test("the facade declares exactly the journey's methods") {
    // a method added without a step in the walk above fails here
    val declared = classOf[Engine].getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) &&
        !Modifier.isStatic(m.getModifiers))
      .map(_.getName).sorted
    assert(declared == Seq("alerts", "filterSnapshots", "healthScores",
      "metrics", "partitionFields", "recommendations", "schemaEvolution",
      "searchTables", "snapshots", "subScores", "tables", "timeTravel",
      "treeCounts", "trends"))
  }
}
