package graft

import scala.util.Try
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.grafttest.Listeners
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.read]], the one parquet read path: a file set's schema is
  * inferred once, later reads of the unchanged files start no Spark
  * job and analyze to the same plan as a plain read, and a changed
  * file set or reader conf is never served a stale schema. Its source
  * scans also pin the one store publish path, [[Caches.once]], the
  * one epoch ingest path, `StreamingOps.epochIngest`, and the one
  * materialization policy, [[Materialize]]. */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_parquet_read").resolve(name).toString

  private def jobsDuring[T](f: => T): (Int, T) = Listeners.jobsDuring(spark.sparkContext)(f)

  private def analyzed(df: DataFrame): String =
    PlanShapes.normalize(df.queryExecution.analyzed.toString)

  private def files(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  /** (path under src/main/scala, contents) of every main source file. */
  private lazy val sources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    files(root).filter(_.getName.endsWith(".scala")).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  private def hits(re: scala.util.matching.Regex): Seq[String] =
    sources.flatMap { case (name, src) => re.findAllIn(src).map(m => s"$name: $m").toSeq }

  test("a second read of an unchanged table starts no Spark job and plans like a plain read") {
    for (name <- Tables.names) {
      Tables.table(spark, TestSpark.sf, name)
      val (jobs, df) = jobsDuring(Tables.table(spark, TestSpark.sf, name))
      assert(jobs == 0, s"re-reading $name started $jobs Spark jobs")
      assert(analyzed(df) == analyzed(spark.read.parquet(s"${TestSpark.sf}/$name.parquet")), name)
    }
  }

  test("a hive-partitioned layout re-reads with the plain read's partition columns") {
    val p = tmp("parted")
    Seq((1L, "a", 1995), (2L, "b", 1996), (3L, "c", 1996)).toDF("id", "v", "yr")
      .write.partitionBy("yr").parquet(p)
    Tables.read(spark, p)
    val (jobs, df) = jobsDuring(Tables.read(spark, p))
    assert(jobs == 0)
    assert(analyzed(df) == analyzed(spark.read.parquet(p)))
    assert(df.filter($"yr" === 1996).count() == 2)
  }

  test("a path overwritten with a different schema is read with the new schema") {
    val p = tmp("overwritten")
    Seq((1, "x")).toDF("a", "b").write.parquet(p)
    assert(Tables.read(spark, p).columns.toSeq == Seq("a", "b"))
    Seq((2L, 3.5, true)).toDF("c", "d", "e").write.mode("overwrite").parquet(p)
    val df = Tables.read(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }

  test("a part file appended to a read directory shows up in count()") {
    val p = tmp("appended")
    Seq(1L, 2L, 3L).toDF("id").write.parquet(p)
    assert(Tables.read(spark, p).count() == 3)
    Seq(4L, 5L).toDF("id").write.mode("append").parquet(p)
    assert(Tables.read(spark, p).count() == 5)
    val (jobs, again) = jobsDuring(Tables.read(spark, p))
    assert(jobs == 0)
    assert(again.count() == 5)
  }

  test("toggling nanosAsLong is never served the other setting's ts type") {
    // Spark cannot write TIMESTAMP(NANOS); write the file with parquet-mr
    val p = tmp("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(p, "part-0.parquet"))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    w.close()
    def tsType(df: => DataFrame): String =
      Try(df.schema("ts").dataType.simpleString).fold(e => e.getClass.getName, identity)
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "true")
      assert(tsType(Tables.read(spark, p)) == "bigint")
      spark.conf.set(conf, "false")
      val plain = tsType(spark.read.parquet(p))
      assert(plain != "bigint")
      assert(tsType(Tables.read(spark, p)) == plain)
    } finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("src/main has one parquet read path and one store publish path") {
    // `.read` then any `.schema(..)`/`.option(..)` calls, then `.parquet(`
    val parquetRead = """\.read(\s*\.\w+\([^()]*\))*\s*\.parquet\(""".r
    // the idioms of hand-rolled publishing that Caches.once replaces
    val publish = """renameTo\(|"_SUCCESS"|"_DONE"|createTempFile|BuildLock""".r
    // the helper's inferring read and its declared-schema read
    assert(hits(parquetRead).map(_.takeWhile(_ != ':')).sorted ==
      Seq("graft/Tables.scala", "graft/Tables.scala"), hits(parquetRead))
    assert(hits(publish).filterNot(_.startsWith("graft/Caches.scala:")).isEmpty, hits(publish))
  }

  test("src/main has one materialization policy") {
    // graft.Materialize is the only code that reads a size to pick a branch
    val probe = """\bdirBytes\(|getNumPartitions|<< 30""".r
    val ops = hits(probe).filter(_.startsWith("graft/operators/"))
    assert(ops.isEmpty, ops)
    val tables = hits("getNumPartitions".r).filter(_.startsWith("graft/Tables.scala"))
    assert(tables.isEmpty, tables)
    // the branch pin is the session conf spark.graft.branch, not an env var
    val oldPin = "SPARK_GRAFT_GRAPH" + "_CKPT"
    val pinned = files(new java.io.File("src"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(oldPin))
    assert(pinned.isEmpty, pinned)
  }

  test("src/main has one epoch ingest path and no scaladoc block stacked on another") {
    // StreamingOps.epochIngest is the only foreachBatch, the only
    // history read and the only checkpoint-release diff
    val ingest = Seq("graft/streaming/StreamingOps.scala")
    for (re <- Seq("""\.foreachBatch\b""".r, """(?<!def )\bhistoryEpochs\(""".r))
      assert(hits(re).map(_.takeWhile(_ != ':')) == ingest, hits(re))
    val release = hits("""getPersistentRDDs""".r).filter(_.startsWith(ingest.head))
    assert(release.size == 2, release)
    // a `/**` right after a `*/` documents nothing: the first block is orphaned
    val stacked = sources.flatMap { case (name, src) =>
      src.linesIterator.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$name:${i + 2}"
      }
    }
    assert(stacked.isEmpty, s"scaladoc blocks stacked on another: $stacked")
  }
}
