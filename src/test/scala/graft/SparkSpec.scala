package graft

import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CacheScope

/** shared local session for all specs (one JVM, one session) */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("graft-test", "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Every test runs inside its own [[CacheScope]]. Once that scope has
  * closed, nothing may stay cached: no persistent RDD and no CacheManager
  * entry. A test that leaves either fails, and the cache is cleared so the
  * next test starts clean.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = Using.resource(CacheScope.open())(_ => super.withFixture(test))
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    val plans = !spark.sharedState.cacheManager.isEmpty
    if (rdds.isEmpty && !plans) outcome
    else {
      spark.catalog.clearCache()
      rdds.foreach(_.unpersist(blocking = true))
      outcome match {
        case Succeeded => Failed("left cached after its scope closed: " +
          s"RDDs ${rdds.map(_.id).mkString("[", ", ", "]")}, " +
          s"CacheManager entries: $plans")
        case failed => failed
      }
    }
  }
}
