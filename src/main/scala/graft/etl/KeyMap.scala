package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed surrogate-key map — the Spark-native `KeyMap`
  * (`/root/reference/src/keymap.rs:37-44`): a bijective (key ↔ value)
  * dimension with the reference's exact semantics:
  *
  *  - existing value → its existing key (`transact`, `keymap.rs:171-183`)
  *  - new value → the lowest free non-negative key (*mex*), gaps filled
  *    first (`calc_lowest_key`, `keymap.rs:129-142`; doc-tests
  *    `keymap.rs:24-35,153-170`: keys {0,1,3} → next is 2, then 4)
  *
  * Keys must be unique and non-negative (the bijection requires the
  * first; the free-key arithmetic below relies on both).
  *
  * Implementation: the free keys come from the gaps between used keys.
  * One window over `dim` ordered by key pairs each used key `k` of rank
  * `r` with its predecessor `prev` (−1 for the first); the keys
  * `prev+1 .. k-1` are free, and a free key `g` found there is the
  * `(g − r)`-th free key overall. Past the last gap the free keys run
  * on from `max+1`, so free slot `s` beyond the gaps is `|dim| + s`.
  * Novel values, ranked by value, take the slot of their rank — exact
  * mex gap-filling, O(max key) work on the dim side, never
  * proportional to fact volume. At 100 TB the dim is the small side:
  * `lookup` broadcasts it.
  *
  * `transact` runs no Spark action: it returns one lazy plan, so
  * `values` is read once, by the caller's action, and an error in its
  * source surfaces there. Each unmaterialized `transact` stacks onto
  * the plan of the one before, so materialize `dim` between batches
  * (e.g. `KeyMap(km.dim.localCheckpoint())`).
  */
final case class KeyMap(dim: DataFrame) {
  require(dim.columns.toSeq == Seq("key", "value"),
    s"KeyMap dim must have (key, value) columns, got ${dim.columns.mkString(",")}")

  /** Reference `transact` lifted to a batch of values: dedupe incoming,
    * keep existing assignments, give novel values the lowest free keys
    * (gap-filling mex order, ties broken by value order — matching the
    * reference's per-record insertion by iteration order). */
  def transact(values: DataFrame): KeyMap = {
    val novel = values.toDF("value").distinct()
      .join(dim, Seq("value"), "left_anti")
      .withColumn("slot_idx",
        (row_number().over(Window.orderBy(col("value"))) - 1).cast(LongType))
    val assigned = novel.crossJoin(keyCount)
      .join(gaps, Seq("slot_idx"), "left")
      .select(coalesce(col("gap_key"), col("n_keys") + col("slot_idx")).as("key"), col("value"))
    KeyMap(dim.unionByName(assigned))
  }

  /** Dimension lookup on a fact table — broadcast hash join (the dim is
    * the bounded side by construction). */
  def lookup(facts: DataFrame, valueCol: String): DataFrame =
    facts.join(broadcast(dim.withColumnRenamed("value", valueCol)), Seq(valueCol), "left")

  /** The reference's `calc_lowest_key` (mex): smallest non-negative
    * integer not present as a key (`keymap.rs:129-135`) — the first gap
    * key, else `|dim|`. */
  def lowestFreeKey(): Long =
    gaps.agg(min(col("gap_key")).as("gap_key")).crossJoin(keyCount)
      .select(coalesce(col("gap_key"), col("n_keys"))).collect()(0).getLong(0)

  /** Free keys below the max key, each with its rank among all free
    * keys: `(gap_key, slot_idx)`. */
  private def gaps: DataFrame = {
    val byKey = Window.orderBy(col("key"))
    dim.select(col("key"),
        lag(col("key"), 1, -1L).over(byKey).as("prev"),
        (row_number().over(byKey) - 1).cast(LongType).as("rank"))
      .filter(col("key") > col("prev") + 1)
      .select(explode(sequence(col("prev") + 1, col("key") - 1)).as("gap_key"), col("rank"))
      .select(col("gap_key"), (col("gap_key") - col("rank")).as("slot_idx"))
  }

  /** One row: the number of used keys, `n_keys`. */
  private def keyCount: DataFrame = dim.agg(count(lit(1)).as("n_keys"))

  def lookupKey(value: String): Option[Long] =
    dim.filter(col("value") === value).select("key")
      .collect().headOption.map(_.getLong(0))
}

object KeyMap {
  /** `KeyMap::from` / `pg_fetch` (`/root/reference/src/keymap.rs:52-75`):
    * build from an existing two-column dimension. */
  def fromDim(df: DataFrame, keyCol: String, valueCol: String): KeyMap =
    KeyMap(df.select(col(keyCol).cast(LongType).as("key"), col(valueCol).as("value")))

  def empty(spark: SparkSession): KeyMap = {
    import org.apache.spark.sql.types._
    KeyMap(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("key", LongType), StructField("value", StringType)))))
  }
}
