package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-keyed sf1 synthesis (round 12, VERDICT task 1): replicate
  * the sf0.1 star schema `copies`× with every 64-bit key space offset
  * by `K·i`, so the result is a REFERENTIALLY-CONSISTENT corpus 10×
  * the size — joins fan out exactly as a real 10× corpus would, and
  * key-derived md5/hash routing sees genuinely new keys per copy
  * instead of 10 identical collisions.
  *
  * Two content transforms keep the WORKLOAD honest rather than
  * degenerate (a verbatim replica would make every document an exact
  * cross-copy duplicate and every embedding a cosine-1 twin,
  * quadratically exploding the dedup/similarity outputs in a way no
  * real corpus growth does):
  *   - `documents.text` tokens are tagged `_i` in copies i>0 (copy 0
  *     stays pristine), so token/shingle spaces are DISJOINT across
  *     copies: near-dup structure within each copy is preserved,
  *     cross-copy dups don't exist — corpus growth, not replication,
  *     as the dedup tier sees it;
  *   - `embeddings.embedding` is CYCLICALLY ROTATED by 7·i dims in
  *     copy i: rotation preserves norms and all within-copy angles
  *     exactly, while rotated uniform vectors decorrelate across
  *     copies (cosine ≈ random-pair level) — same geometry, 10× the
  *     corpus.
  * The small dimension tables (region, nation) are copied verbatim,
  * exactly like a real lake: dims grow ~never, facts grow 10×.
  *
  * Usage:
  * `sbt "runMain graft.ScaleData [srcDir] [dstDir] [copies] [keyOffset]"`
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 × 10, offset 10¹⁰).
  * When re-replicating an already-synthesized corpus (sf1 → sf10),
  * pass a keyOffset exceeding its full key span — reusing the same
  * offset would collide copy i+j pairs. */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val K = args.lift(3).map(_.toLong).getOrElse(10000000000L)
    val cpus = GraftSession.runCpus
    // Partitions sized for the synthesized corpus, not the source.
    val spark = GraftSession.forRun(cpus, src, _.config("spark.sql.shuffle.partitions",
      GraftSession.shufflePartitions(cpus, GraftSession.dirBytes(src) * copies).toString))

    def off(c: String, i: Int): Column = col(c) + lit(K * i)
    def rep(base: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => copy(base, i)).reduce(_ unionByName _)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] wrote $name")
    }

    for (t <- Seq("region", "nation"))
      write(Tables.table(spark, src, t), t)

    write(rep(Tables.customer(spark, src)) { (d, i) =>
      d.withColumn("c_custkey", off("c_custkey", i)) }, "customer")
    write(rep(Tables.supplier(spark, src)) { (d, i) =>
      d.withColumn("s_suppkey", off("s_suppkey", i)) }, "supplier")
    write(rep(Tables.part(spark, src)) { (d, i) =>
      d.withColumn("p_partkey", off("p_partkey", i)) }, "part")
    write(rep(Tables.orders(spark, src)) { (d, i) =>
      d.withColumn("o_orderkey", off("o_orderkey", i))
        .withColumn("o_custkey", off("o_custkey", i)) }, "orders")
    write(rep(Tables.lineitem(spark, src)) { (d, i) =>
      d.withColumn("l_orderkey", off("l_orderkey", i))
        .withColumn("l_partkey", off("l_partkey", i))
        .withColumn("l_suppkey", off("l_suppkey", i)) }, "lineitem")
    write(rep(Tables.events(spark, src)) { (d, i) =>
      d.withColumn("event_id", off("event_id", i))
        .withColumn("user_id", off("user_id", i)) }, "events")
    write(rep(Tables.documents(spark, src)) { (d, i) =>
      val text =
        if (i == 0) col("text")
        else concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("_" + i))))
      d.withColumn("doc_id", off("doc_id", i))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long")) }, "documents")
    write(rep(Tables.embeddings(spark, src)) { (d, i) =>
      val r = (7 * i) % 64
      val e =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      d.withColumn("vec_id", off("vec_id", i))
        .withColumn("embedding", e) }, "embeddings")

    println(s"[scale] done: $dst ($copies x $src)")
    spark.stop()
  }
}
