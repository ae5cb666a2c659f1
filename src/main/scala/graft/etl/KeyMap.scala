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
  * Implementation: rank arithmetic, never an enumeration of free keys.
  * A used key `k` of rank `r` (0-based, in key order) has `k − r` free
  * keys below it, so novel value number `s` (0-based, in value order)
  * gets key `s + #{k : k − rank(k) ≤ s}`. One exchange gathers the used
  * keys and the novel values into a single partition, where two
  * windows compute it: the first, ordered by (novel, key, value), ranks
  * used keys and numbers the novel values; the second, ordered by
  * (free, novel), counts the used keys at or below each slot. Exact mex
  * gap-filling in O(|dim| + |novel|) work, whatever the key values are,
  * and never proportional to fact volume. At 100 TB the dim is the
  * small side: `lookup` and the novel-value anti-join broadcast it.
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
      .join(broadcast(dim), Seq("value"), "left_anti")
    val byInput = Window.orderBy(col("novel"), col("key"), col("value"))
    val bySlot = Window.orderBy(col("free"), col("novel"))
    val used = when(col("novel"), 0L).otherwise(1L)
    // Used keys sort first, so `n` is a used key's rank, and `n − u` (u =
    // all used keys) is a novel value's number.
    val assigned = dim.select(col("key"), lit(false).as("novel"))
      .unionByName(novel.select(col("value"), lit(true).as("novel")), allowMissingColumns = true)
      .select(col("key"), col("value"), col("novel"),
        (row_number().over(byInput) - 1).as("n"), sum(used).over(byInput).as("u"))
      .select(col("value"), col("novel"),
        when(col("novel"), col("n") - col("u")).otherwise(col("key") - col("n")).as("free"))
      .select(col("value"), col("novel"), (col("free") + sum(used).over(bySlot)).as("key"))
      .filter(col("novel"))
      .select(col("key"), col("value"))
    KeyMap(dim.unionByName(assigned))
  }

  /** Dimension lookup on a fact table — broadcast hash join (the dim is
    * the bounded side by construction). */
  def lookup(facts: DataFrame, valueCol: String): DataFrame =
    facts.join(broadcast(dim.withColumnRenamed("value", valueCol)), Seq(valueCol), "left")

  /** The reference's `calc_lowest_key` (mex): smallest non-negative
    * integer not present as a key (`keymap.rs:129-135`). Keys
    * `0 .. m−1` are all used exactly when the first `m` keys in key
    * order equal their ranks, so the mex is the count of keys with
    * `key == rank`. */
  def lowestFreeKey(): Long =
    dim.select(col("key"), (row_number().over(Window.orderBy(col("key"))) - 1).as("rank"))
      .filter(col("key") === col("rank")).count()

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
