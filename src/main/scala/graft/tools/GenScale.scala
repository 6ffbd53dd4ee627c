package graft.tools

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-tier fixture generator: replicates the sf0.1 fixtures `factor`×
 * into `outDir` with referential-integrity-preserving key shifts, for the
 * sf1 bench tier (PERF.md tri-scale table). The driver's testdata is
 * read-only, so the tier is derived, not regenerated:
 *
 *  - every table's keys shift by a per-replica offset CONSISTENTLY across
 *    tables (l_orderkey and o_orderkey shift together, etc.), so all join
 *    cardinalities scale linearly;
 *  - `nation`/`region` are fixed dimensions — copied once, never
 *    replicated (foreign keys into them stay valid);
 *  - `documents` replicas beyond the first suffix EVERY token with a
 *    replica tag, so cross-replica texts are NOT near-duplicates and
 *    dedup output density stays that of the base corpus (naive text
 *    copies would add f² near-dup pairs per base doc);
 *  - `embeddings` replicas beyond the first get the deterministic per-dim
 *    nudge ScaleProbe uses, for the same reason.
 *
 * Usage: runMain graft.tools.GenScale <srcDir> <outDir> [factor=10], on
 * `local[SPARK_GRAFT_CPUS]` (default 32; [[graft.Sessions]]).
 */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Sessions("graft-genscale", defaultCpus = 32)

    def grow(name: String, base: DataFrame)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val grown = (0 until factor).map(r => shift(base, r)).reduce(_ unionByName _)
      grown.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${grown.count()} rows")
    }
    def copy(name: String): Unit = {
      Tables.load(spark, src, name).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: copied")
    }

    val CustOff = 10000000L; val OrdOff = 100000000L; val PartOff = 10000000L
    val SuppOff = 10000000L; val EvtOff = 1000000000L; val UserOff = 10000000L
    val DocOff = 1000000L; val VecOff = 1000000L

    copy("region"); copy("nation")
    grow("customer", Tables.customer(spark, src)) { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * CustOff)) }
    grow("supplier", Tables.supplier(spark, src)) { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * SuppOff)) }
    grow("part", Tables.part(spark, src)) { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * PartOff)) }
    grow("orders", Tables.orders(spark, src)) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * OrdOff))
        .withColumn("o_custkey", col("o_custkey") + lit(r * CustOff)) }
    grow("lineitem", Tables.lineitem(spark, src)) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * OrdOff))
        .withColumn("l_partkey", col("l_partkey") + lit(r * PartOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * SuppOff)) }
    grow("events", Tables.events(spark, src)) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * EvtOff))
        .withColumn("user_id", col("user_id") + lit(r * UserOff)) }
    grow("documents", Tables.documents(spark, src)) { (df, r) =>
      val text =
        if (r == 0) col("text")
        else concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"x$r"))))
      df.select((col("doc_id") + lit(r * DocOff)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), length(text).cast("long").as("n_chars")) }
    grow("embeddings", Tables.embeddings(spark, src)) { (df, r) =>
      val vec =
        if (r == 0) col("embedding")
        else transform(col("embedding"),
          (v, i) => v + (i % (r + 2)).cast("float") * 0.01f)
      df.select((col("vec_id") + lit(r * VecOff)).as("vec_id"),
        vec.as("embedding"), col("label")) }
    spark.stop()
  }
}
