package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

/** Table loaders for the driver-generated parquet star schema
  * (/root/repo/TESTDATA.md). All operators read through here so the
  * scan path (and any future source swap — e.g. bucketed tables on a
  * real cluster) is centralized.
  *
  * Scale note: a read lists the files and plans splits from their
  * sizes (`maxPartitionBytes`); it reads a footer only when [[read]]
  * misses its schema memo. The same code path scales from the 6k-row
  * sf0.001 fixture to a 100 TB lake — no code change, only config.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Schema memo capacity. Ten fixture tables plus the write-once
    * caches need a few dozen entries; the cap bounds a streaming job,
    * whose history read is a new path set every epoch. */
  private val SchemaMemoEntries = 512

  // (digest of the paths, reader confs) -> (schema, digest of the
  // listing it was inferred from)
  private type MemoKey = (String, Seq[(String, String)])
  // access-ordered, so the least recently used entry is dropped first
  private val schemaMemo = new java.util.LinkedHashMap[MemoKey, (StructType, String)](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[MemoKey, (StructType, String)]): Boolean =
      size() > SchemaMemoEntries
  }

  /** The one parquet read path: every parquet read in `src/main` goes
    * through here. A plain `spark.read.parquet` infers the schema on
    * every call, and inference is a one-task Spark job that reads a
    * footer (~60 ms at sf0.1 on a 4-core machine, most of the time it
    * takes to build a short query). This infers each file set's schema
    * once per process and declares it on later reads
    * (`spark.read.schema(s).parquet`), which list the files but start
    * no job.
    *
    * The memo key is a digest of the paths in the caller's order (the
    * listing order decides which footer inference reads) plus the
    * session's parquet-reader confs. The value is the schema and a
    * digest of the listing (path, length, mtime) it was inferred from.
    * A hit is checked against the listing the new relation's file index
    * has already made, so no second listing: a rewritten or appended
    * file set is inferred again, and the schema and the analyzed plan
    * are always the ones a plain read returns. The memo is
    * process-wide, holds only schemas and digests, and keeps at most
    * `SchemaMemoEntries` of them. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val key = (digest(paths.iterator), readerConfs(spark))
    val declared = schemaMemo.synchronized(Option(schemaMemo.get(key))).flatMap {
      case (schema, listing) =>
        Some(spark.read.schema(schema).parquet(paths: _*)).filter(listingDigest(_).contains(listing))
    }
    declared.getOrElse {
      val df = spark.read.parquet(paths: _*)
      listingDigest(df).foreach(l => schemaMemo.synchronized(schemaMemo.put(key, (df.schema, l))))
      df
    }
  }

  /** The confs that change what parquet schema inference returns. */
  private def readerConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  /** Digest of the files a read's relation listed, in listing order;
    * None when the relation has no in-memory listing to check. */
  private def listingDigest(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        digest(index.allFiles().iterator.map(f =>
          s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"))
    }

  private def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes(UTF_8)))
    java.util.HexFormat.of().formatHex(md.digest())
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  /** `events.ts` has shipped as two parquet types across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects by default —
    * read nanos as raw long and integer-`div` to µs; no double
    * round-trip, which would lose precision above 2^53 ns) and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (which loads as
    * TIMESTAMP_NTZ — cast to the session-TZ type; every session here
    * pins UTC so the cast is value-preserving). DuckDB reads the same
    * column at µs precision either way, so both engines see identical
    * values (SURVEY.md §7.3 risk 2). Branch on the LOADED dtype so the
    * engine runs against either generation unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    raw.withColumn("ts", ts)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan-out for CPU-heavy per-row operators (hashing, vector math): a
    * small parquet arrives as one split, which would pin the whole
    * computation to a single core, so the Small side of
    * [[Materialize.splits]] repartitions to the cores. At lake scale the
    * file-split planner provides this parallelism, and the unconditional
    * repartition cost corpus_dsir_select two full-text shuffles per run
    * at sf100 (decade 3, round 13). Results are
    * partition-layout-independent by design (every oracle is a hash
    * compare over sorted output; `BranchParitySpec` runs both sides).
    *
    * Gate caveat (adjudicated round 14): the split count is planned at
    * construction time, so the ANALYZED plan the impl gate fingerprints
    * depends on this branch. A future canonical fixture MUST stay below
    * the split threshold (one row-group, < maxPartitionBytes), else
    * ImplGateSpec trips spuriously on machines with different layouts —
    * the constraint is also pinned in CLAUDE.md's regeneration
    * playbook. */
  def fanout(df: DataFrame): DataFrame =
    if (Materialize.splits("fanout", df) == Materialize.Small)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}

/** One oracle-checked operator: `name` keys `SparkEntry.queries`;
  * `oracle` (when present) is the equivalent DuckDB SQL the driver runs
  * against the same parquet tables and hash-compares (column names must
  * match exactly — see the parity rules in SURVEY.md §5.2).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)
