package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r10 finding that voided every streaming bench number: on a
  * staged table laid out as a DIRECTORY of part files,
  * [[StreamOps.fileStream]] staged one symlink to the directory and the
  * file-stream source read ZERO rows — st01–st15's sf0.1 times were the
  * cost of processing an empty stream. The fix links each part file
  * individually; this spec asserts stream-count == batch-count on both
  * layouts, so a silent empty stream can never pass again.
  */
class FileStreamSpec extends SparkSpec {

  private def writeDocs(dir: String, nParts: Int): Unit = {
    val s = spark
    import s.implicits._
    (0L until 60L).map(i => (i, s"text $i", "src"))
      .toDF("doc_id", "text", "source")
      .repartition(nParts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("fileStream reads every row of a multi-part table directory") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fsspec-multi-").toString
    writeDocs(dir, nParts = 3)
    val nFiles = {
      val it = java.nio.file.Files
        .list(java.nio.file.Paths.get(s"$dir/documents.parquet"))
      try it.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .count()
      finally it.close()
    }
    assert(nFiles >= 2, "fixture must actually be multi-file")
    val batchCount = spark.read.parquet(s"$dir/documents.parquet").count()
    val streamed = StreamOps.runToTable(
      StreamOps.fileStream(spark, dir, "documents"),
      "fs_spec_multi", "append")
    assert(streamed.count() == batchCount && batchCount == 60L,
      "stream must see exactly the batch rows on the part-file layout")
  }

  test("fileStream still reads a single-file table (the raw layout)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fsspec-single-").toString
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-fsspec-stage-").toString
    (0L until 10L).map(i => (i, s"text $i", "src"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$tmp/one")
    val part = {
      val it = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/one"))
      try it.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally it.close()
    }
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val streamed = StreamOps.runToTable(
      StreamOps.fileStream(spark, dir, "documents"),
      "fs_spec_single", "append")
    assert(streamed.count() == 10L)
  }

  test("budget gate: zero budget skips everything, full budget admits all") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fsspec-budget-").toString
    writeDocs(dir, nParts = 2)
    val none = StreamOps.budgetGateStream(spark, dir, budgetFrac = 0.0)
    assert(none.count() == 60L &&
      none.filter(col("action") === "skip").count() == 60L,
      "zero budget must skip every incoming doc")
    val all = StreamOps.budgetGateStream(spark, dir, budgetFrac = 1.0)
    assert(all.filter(col("action") === "train").count() == 60L,
      "full budget must admit every incoming doc")
  }

  test("restaging self-heals stale directory links from the pre-fix layout") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fsspec-heal-").toString
    writeDocs(dir, nParts = 2)
    // simulate the pre-fix staging: one symlink pointing at the DIRECTORY
    val staged = java.nio.file.Paths.get(
      s"/tmp/graft_stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}_documents")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val streamed = StreamOps.runToTable(
      StreamOps.fileStream(spark, dir, "documents"),
      "fs_spec_heal", "append")
    assert(streamed.count() == 60L,
      "a stale wholesale-dir link must be replaced by part-file links")
  }
}
