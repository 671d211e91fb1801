package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the 10× soak corpus ("sf1") from an sf0.1 directory: fact
  * tables replicated with DISJOINT key offsets (joins stay consistent —
  * every foreign key is offset by the same stride as its primary), dims
  * copied once, documents' text and embeddings' vectors perturbed per copy
  * so dedup/ANN semantics stay non-degenerate (replicas must be NEAR
  * duplicates, not byte-identical ones that collapse to trivial work).
  *
  * The round-7 soak used an equivalent script that lived outside the repo
  * and was lost with /tmp; this main replaces it so the 10×-step scale
  * check is reproducible every round. It lives in the test tree (not
  * shipped in the library jar), so it runs with `Test/runMain`:
  *
  *   sbt "Test/runMain graft.SoakData /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.Bench"
  *   sbt "runMain graft.Verify /tmp/graft_sf1 /tmp/vout_sf1"
  *   python3 tools/check_oracle.py /tmp/graft_sf1 /tmp/vout_sf1
  *
  * Raw parquet is read/written directly so the soak exercises the same
  * load path as the driver's testdata — with one exception: a legacy
  * nanos-long events.ts is canonicalized to a real timestamp on the way
  * out, because round-tripping the long through Spark writes unannotated
  * int64 that DuckDB's epoch_us() oracles cannot read (the current
  * timestamp[us] testdata passes through with its encoding intact).
  */
object SoakData {

  /** Key stride between copies; far above any sf0.1 key and above the
    * dedup pipelines' planted-copy offset (+1,000,000), so copy m's
    * planted ids never collide with copy m+1's real ids.
    */
  val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SoakData <srcDir> <dstDir> [mult=10]")
    val spark = GraftSession.getOrCreate("graft-soak-data")
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, args(0), args(1),
      args.drop(2).headOption.map(_.toInt).getOrElse(10))
    spark.stop()
  }

  /** Generates the corpus; factored from main so SoakDataSpec can pin the
    * invariants the soak findings hinge on (replica join consistency,
    * near- but not exact duplication).
    */
  def generate(spark: SparkSession, src: String, dst: String, mult: Int): Unit = {
    require(mult >= 1, s"mult must be >= 1, got $mult")
    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def put(name: String, df: DataFrame): Unit = {
      // no count readback: a second full scan of the 10x corpus per table
      // just for a log line; SoakDataSpec pins the row counts instead
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"[soak] $name written")
    }
    def replicated(df: DataFrame)(copy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until mult).map(m => copy(df, m)).reduce(_ unionByName _)
    def off(c: String, m: Int) = (col(c) + lit(m * Stride)).as(c)

    // dims: copied once — replicating them would break n_nationkey joins
    put("region", raw("region"))
    put("nation", raw("nation"))

    put("customer", replicated(raw("customer")) { (df, m) =>
      df.select(off("c_custkey", m), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    })
    put("supplier", replicated(raw("supplier")) { (df, m) =>
      df.select(off("s_suppkey", m), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    })
    put("part", replicated(raw("part")) { (df, m) =>
      df.select(off("p_partkey", m), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    })
    put("orders", replicated(raw("orders")) { (df, m) =>
      df.select(off("o_orderkey", m), off("o_custkey", m), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    })
    put("lineitem", replicated(raw("lineitem")) { (df, m) =>
      df.select(off("l_orderkey", m), off("l_partkey", m), off("l_suppkey", m),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    })
    // events: user_id offset too — otherwise every user gets mult× the
    // events and the sessionize/retention shapes skew instead of scale.
    // A legacy nanos-long ts (rounds 1-7 encoding, surfaced as LongType by
    // nanosAsLong) is canonicalized to a real timestamp on the way out:
    // writing the long back as unannotated int64 would break every DuckDB
    // epoch_us() oracle on the soak corpus while Spark kept working.
    val rawEvents = raw("events")
    val eventsCanon = rawEvents.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawEvents.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => rawEvents
    }
    put("events", replicated(eventsCanon) { (df, m) =>
      df.select(off("event_id", m), col("ts"), off("user_id", m),
        col("event_type"), col("value"), col("props"))
    })
    // near- but not exact duplicates across copies (dedup must WORK, not
    // collapse): the ScaleProbe corpus perturbation, kept schema-complete;
    // n_chars tracks the perturbed text so the stored-length invariant
    // holds on every replica
    put("documents", replicated(raw("documents")) { (df, m) =>
      val suffix = s" variant token $m"
      df.select(off("doc_id", m),
        (if (m == 0) col("text") else concat(col("text"), lit(suffix))).as("text"),
        col("lang"), col("source"),
        (if (m == 0) col("n_chars")
         else (col("n_chars") + lit(suffix.length.toLong))).as("n_chars"))
    })
    put("embeddings", replicated(raw("embeddings")) { (df, m) =>
      df.select(off("vec_id", m),
        (if (m == 0) col("embedding")
         else transform(col("embedding"),
           x => (x + lit(m.toFloat * 1e-3f)).cast("float"))).as("embedding"),
        col("label"))
    })
  }
}
