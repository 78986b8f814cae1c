package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: shard-replicate an existing sf dir K× into a larger
  * benchmark dataset (e.g. sf0.1 × 10 ≙ sf1) for scaling-slope checks —
  * the driver's testdata is read-only and ships no sf1.
  *
  * Every key column (order/cust/supp/part keys, doc_id, vec_id,
  * event_id, user_id) is offset by `shard × 10^8`, far above any sf0.1
  * key, so shard k is a self-consistent replica: joins resolve within a
  * shard, cross-shard joins produce nothing, and every join/agg output
  * is exactly K× the original — the linear-scaling semantics a slope
  * measurement needs. Dimension tables (region, nation) stay fixed, as
  * they do across real TPC-H scale factors, and nationkey references
  * into them are left unshifted.
  *
  * Document text gets a per-shard token prefix (shard 0 keeps the
  * original bytes), making cross-shard token sets disjoint: near-dup
  * structure is preserved per shard and never merges across shards, so
  * dedup/CC workloads scale by component COUNT, not component size —
  * matching a corpus that actually grew. n_chars is recomputed from the
  * rewritten text. Embeddings keep their vectors (identical directions
  * across shards only add top-k ties; IVF cell occupancy scales K×).
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <dstDir> [K=10]
  */
object GenScale {
  private val OFF = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse(".bench/sf1")
    val k = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val spark = graft.Session.local()
    // the source events table is parquet TIMESTAMP(NANOS); read the
    // raw nanos as a long and write it back as a plain long column —
    // Tables.events reads either representation identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Union of K copies with `keys` offset by shard×OFF, `extra`
      * applied per shard for non-key rewrites.
      */
    def sharded(df: DataFrame, keys: Seq[String],
                extra: (DataFrame, Int) => DataFrame = (d, _) => d)
        : DataFrame =
      (0 until k).map { i =>
        val shifted = keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * OFF)))
        extra(shifted, i)
      }.reduce(_ unionByName _)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // fixed dims: straight copies
    Seq("region", "nation").foreach(n => write(read(n), n, 1))

    write(sharded(read("customer"), Seq("c_custkey")), "customer", 4)
    write(sharded(read("supplier"), Seq("s_suppkey")), "supplier", 1)
    write(sharded(read("part"), Seq("p_partkey")), "part", 2)
    write(sharded(read("orders"), Seq("o_orderkey", "o_custkey")),
      "orders", 16)
    write(sharded(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 32)
    write(sharded(read("events"), Seq("event_id", "user_id")), "events", 16)
    write(sharded(read("embeddings"), Seq("vec_id")), "embeddings", 8)
    write(sharded(read("documents"), Seq("doc_id"),
      extra = (d, i) =>
        if (i == 0) d
        else d
          .withColumn("text", when(col("text").isNotNull,
            array_join(transform(split(col("text"), " "),
              t => concat(lit(s"x${i}_"), t)), " ")))
          .withColumn("n_chars",
            coalesce(length(col("text")).cast("long"), lit(0L)))),
      "documents", 16)

    println(s"GenScale: wrote ${k}x of $src to $dst")
    spark.stop()
  }
}
