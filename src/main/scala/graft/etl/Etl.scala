package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** ETL façade mirroring the reference's trait contract:
  * `Extract` — "how is the data extracted?"
  * (`/root/reference/src/etl.rs:14-19`) → [[Source]];
  * `Load` — "how is the data loaded?" (`src/etl.rs:23-28`) → [[Sink]].
  *
  * Spark-first: a Source wraps a `DataFrameReader` recipe, a Sink a
  * `DataFrameWriter` recipe, and a [[Pipeline]] is
  * source → declarative transforms → sink, so the whole flow is one
  * Catalyst plan (pushdown crosses the façade; nothing materializes
  * between stages — unlike the reference, which holds each collection
  * in driver memory).
  */
trait Source {
  def read(spark: SparkSession): DataFrame
}

trait Sink {
  def write(df: DataFrame): Unit
}

final case class Pipeline(
    source: Source,
    transforms: Seq[DataFrame => DataFrame] = Seq.empty,
    sink: Sink) {
  def run(spark: SparkSession): Unit =
    sink.write(transforms.foldLeft(source.read(spark))((df, f) => f(df)))
}

// ---------------------------------------------------------------- sources

/** R8 (`/root/reference/src/extract/fs.rs:6-13`) generalized: schema is
  * declared, not re-inferred — the reference's structs fix schemas at
  * compile time (`skopje-macros/src/lib.rs:113-119`); here
  * [[graft.Tables.read]] infers a file set's schema once and declares
  * it on every later read. */
final case class ParquetSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = graft.Tables.read(spark, path)
}

final case class JsonSource(path: String, schema: StructType, multiLine: Boolean = false)
    extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.schema(schema).option("multiLine", multiLine).json(path)
}

final case class CsvSource(path: String, schema: StructType, header: Boolean = true)
    extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.schema(schema).option("header", header).csv(path)
}

/** ORC — the second columnar lake format (predicate pushdown + column
  * pruning parity with parquet via Spark's native reader). */
final case class OrcSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** R10–R12 (`/root/reference/src/extract/pg.rs`): the reference pushes
  * SQL text to Postgres and maps rows; Spark's JDBC source does the
  * same with Catalyst filter pushdown. `partitionColumn` splits the
  * read across executors (the reference reads on one connection). */
final case class JdbcSource(
    url: String, table: String, props: java.util.Properties,
    partitionColumn: Option[(String, Long, Long, Int)] = None) extends Source {
  def read(spark: SparkSession): DataFrame = partitionColumn match {
    case Some((c, lo, hi, n)) => spark.read.jdbc(url, table, c, lo, hi, n, props)
    case None => spark.read.jdbc(url, table, props)
  }
}

/** R4/R5 (`/root/reference/src/extract/http.rs:36-39,153-186`): HTTP
  * JSON fetch with retry-on-429. The fetch function is injectable so
  * the retry/parse path is testable offline; the default uses
  * `java.net.http`. Body lines are parallelized and parsed by the
  * executors (`spark.read.json(Dataset[String])`).
  *
  * Retry contract mirrors the reference: ≤ `maxRetries` retries on 429,
  * fixed `backoffMs` sleep (code sleeps 120 s at `http.rs:174`;
  * configurable here), then parse regardless (`http.rs:179-182`).
  */
final case class HttpJsonSource(
    url: String,
    schema: StructType,
    fetch: String => HttpJsonSource.Response = HttpJsonSource.defaultFetch,
    maxRetries: Int = 3,
    backoffMs: Long = 120000L) extends Source {

  def read(spark: SparkSession): DataFrame = {
    import spark.implicits._
    var attempt = 0
    var resp = fetch(url)
    while (resp.status == 429 && attempt < maxRetries) {
      attempt += 1
      Thread.sleep(backoffMs)
      resp = fetch(url)
    }
    val lines = resp.body.split('\n').toIndexedSeq
    spark.read.schema(schema).json(lines.toDS())
  }
}

object HttpJsonSource {
  final case class Response(status: Int, body: String)

  def defaultFetch(url: String): Response = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
    val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    Response(r.statusCode(), r.body())
  }
}

/** R6/R7 (`/root/reference/src/extract/http.rs:41-124`): chunked
  * parallel download. The reference spawns a tokio task per 100 MB
  * range but serializes writes behind one `Mutex<File>` (`:92,:104`);
  * here each executor fetches AND persists its own ranges to shared
  * storage (Hadoop FileSystem — local/HDFS/S3), so neither the bytes
  * nor the writes ever funnel through the driver. Only per-part
  * METADATA returns to the driver (one small row per 100 MB chunk),
  * which then writes a manifest. Fetcher injectable for offline tests.
  */
final case class ChunkedDownload(
    url: String,
    totalBytes: Long,
    chunkBytes: Long = graft.sources.HttpChunkSource.DefaultChunkBytes,
    fetchRange: (String, Long, Long) => Array[Byte]) {

  import ChunkedDownload.Part

  def ranges: Seq[(Long, Long)] = graft.sources.HttpChunkSource.ranges(totalBytes, chunkBytes)

  /** Fetch every chunk across the cluster and write it as
    * `outDir/part-<start, zero-padded>` directly from the executor that
    * fetched it (distributed parallel I/O, no driver assembly). The
    * zero-padded name makes lexicographic part order = byte order, so
    * any downstream consumer (or [[assembleTo]]) can reconstruct the
    * file. Writes `outDir/_MANIFEST.json` last — its presence marks the
    * download complete (the usual job-commit idiom). Returns the parts
    * sorted by offset. */
  def runTo(spark: SparkSession, outDir: String): Seq[Part] = {
    val u = url; val f = fetchRange
    // Ship the DRIVER's hadoop configuration to the executors: a fresh
    // Configuration() there would miss every spark.hadoop.* setting
    // (S3A credentials, fs.defaultFS), silently resolving outDir against
    // a different filesystem than the manifest write below.
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val parts = spark.sparkContext
      .parallelize(ranges, math.min(ranges.size, 32))
      .map { case (s, e) =>
        val bytes = f(u, s, e)
        val p = new org.apache.hadoop.fs.Path(outDir, f"part-$s%016d")
        val fs = p.getFileSystem(confBc.value.value)
        val out = fs.create(p, true)
        try out.write(bytes) finally out.close()
        Part(s, e, p.toString, bytes.length.toLong)
      }
      .collect() // metadata only — a few rows per 100 MB chunk
      .sortBy(_.start).toIndexedSeq
    val manifest = parts.map(p =>
        s"""{"start":${p.start},"end":${p.end},"path":"${p.path}","n_bytes":${p.nBytes}}""")
      .mkString("[\n", ",\n", "\n]")
    val mp = new org.apache.hadoop.fs.Path(outDir, "_MANIFEST.json")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
    parts
  }

  /** Stream the parts into one destination file in offset order —
    * constant memory (one chunk buffered at a time), for consumers that
    * need the reference's single-file output (`http.rs:74-124`). */
  def assembleTo(spark: SparkSession, parts: Seq[Part], dest: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dp = new org.apache.hadoop.fs.Path(dest)
    val fs = dp.getFileSystem(conf)
    val out = fs.create(dp, true)
    try {
      var written = 0L
      parts.sortBy(_.start).foreach { p =>
        // each part resolves its OWN filesystem — parts may live on a
        // different scheme (s3a://) than the destination
        val pp = new org.apache.hadoop.fs.Path(p.path)
        val in = pp.getFileSystem(conf).open(pp)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) { out.write(buf, 0, n); written += n }; n = in.read(buf) }
        } finally in.close()
      }
      written
    } finally out.close()
  }
}

object ChunkedDownload {
  /** Per-chunk metadata returned to the driver (never the bytes). */
  final case class Part(start: Long, end: Long, path: String, nBytes: Long)
}

/** R9 (`/root/reference/src/extract/fs.rs:19-60`): zip extraction. The
  * reference rayon-iterates entries but serializes on the archive
  * mutex; here archives are distributed via `binaryFiles` and each
  * executor streams its own archive's entries. */
object ZipSource {
  def entries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (file, stream) =>
        val zin = new java.util.zip.ZipInputStream(stream.open())
        Iterator.continually(zin.getNextEntry)
          .takeWhile(_ != null)
          .filter(!_.isDirectory)
          .map { entry =>
            val bytes = zin.readAllBytes()
            (file, entry.getName, bytes.length.toLong, bytes)
          }.toVector
      }
      .toDF("archive", "entry", "n_bytes", "content")
  }
}

/** Pipeline data-quality observation: attaches named metrics
  * (`df.observe`) that are computed as a side effect of whatever action
  * runs the plan — row counts, null counts, bounds — with zero extra
  * passes over the data. The ETL analogue of the reference's implicit
  * "COPY cannot fail halfway" integrity concern
  * (`/root/reference/src/load/pg.rs:19-20`): validate while loading,
  * not after. */
object Quality {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.Observation

  /** Attach quality metrics; after any action runs the returned frame,
    * `observation.get` yields them (n_rows, n_null_keys,
    * approx_distinct_keys) without a second pass. */
  def observed(df: DataFrame, keyCol: String): (DataFrame, Observation) = {
    val obs = Observation()
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col(keyCol).isNull, 1)).as("n_null_keys"),
      approx_count_distinct(col(keyCol)).as("approx_distinct_keys"))
    (instrumented, obs)
  }
}

// ------------------------------------------------------------------ sinks

/** R13/R14 (`/root/reference/src/load/pg.rs:50-117`): the reference
  * picks row-INSERT vs binary COPY; Spark's equivalent bulk path is a
  * columnar parquet write (or JDBC with batching, below). */
final case class ParquetSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    partitionBy: Seq[String] = Seq.empty) extends Sink {
  def write(df: DataFrame): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}

final case class OrcSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    partitionBy: Seq[String] = Seq.empty) extends Sink {
  def write(df: DataFrame): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}

/** Interchange sinks for systems that can't read columnar formats —
  * CSV keeps a header for round-tripping; JSON writes one object per
  * line (the streaming-friendly NDJSON shape). */
final case class CsvSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    header: Boolean = true) extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode(mode).option("header", header).csv(path)
}

final case class JsonSink(path: String, mode: SaveMode = SaveMode.Overwrite) extends Sink {
  def write(df: DataFrame): Unit = df.write.mode(mode).json(path)
}

/** JDBC sink: per-partition transactions with batched prepared
  * statements — the reference's prepare-once / one-tx-per-collection
  * pattern (`src/load/pg.rs:59-81`), per executor. `batchsize` is the
  * COPY-vs-INSERT lever. */
final case class JdbcSink(
    url: String, table: String, props: java.util.Properties,
    mode: SaveMode = SaveMode.Append, batchSize: Int = 10000) extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode(mode).option("batchsize", batchSize).jdbc(url, table, props)
}
