package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: deterministically scale the driver testdata N× (default
  * 10×, sf0.1 → "sf1") for scale proof-points beyond the provided
  * dirs. NOT part of the library surface and never used by
  * SparkEntry.queries — the driver's own testdata stays the input for
  * all declared checks.
  *
  * Construction: N disjoint key-offset copies of every table (copy 0
  * is the identity, so the source data is a subset). Entity names,
  * document texts and embeddings get small deterministic per-copy
  * perturbations so the things that make each table interesting SCALE
  * instead of collapsing:
  *  - customer/supplier names stay all-distinct (the quadratic pair
  *    join workload grows 10×, not the duplication factor),
  *  - part names stay IDENTICAL across copies (the distinct-name
  *    reduction workload: duplication factor grows 10×),
  *  - documents become families of ~10 near-duplicates (realistic
  *    near-dup rate for the LSH/SimHash paths; n_chars re-derived),
  *  - embeddings get per-(copy,dim) multiplicative jitter (near-dup
  *    cosine structure, not exact cos=1 clones).
  * All perturbations are pure column arithmetic — rerunning reproduces
  * byte-identical tables. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/testdata/sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Mains.localSession()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    /** Key offset per copy: one round decade above the source max, so
      * copies are disjoint and FKs stay consistent via the same
      * offset on both sides. */
    def offsetFor(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      math.pow(10, math.ceil(math.log10(mx.toDouble + 2))).toLong
    }
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionByName _)

    // fixed dimension tables
    write("region", read("region"))
    write("nation", read("nation"))

    val customer = read("customer")
    val custOff = offsetFor(customer, "c_custkey")
    write("customer", copies(customer) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))
        .withColumn("c_name",
          if (i == 0) col("c_name") else concat(col("c_name"), lit(s" $i")))
    })

    val supplier = read("supplier")
    val suppOff = offsetFor(supplier, "s_suppkey")
    write("supplier", copies(supplier) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppOff))
        .withColumn("s_name",
          if (i == 0) col("s_name") else concat(col("s_name"), lit(s" $i")))
    })

    val part = read("part")
    val partOff = offsetFor(part, "p_partkey")
    write("part", copies(part) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partOff))
    })

    val orders = read("orders")
    val ordOff = offsetFor(orders, "o_orderkey")
    write("orders", copies(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))
    })

    write("lineitem", copies(read("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppOff))
    })

    // ts becomes a native µs timestamp (Spark cannot write
    // TIMESTAMP(NANOS)); Tables.events adapts on read
    val events = graft.core.Tables.events(spark, src)
    val evOff = offsetFor(events, "event_id")
    val userOff = offsetFor(events, "user_id")
    write("events", copies(events) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evOff))
        .withColumn("user_id", col("user_id") + lit(i * userOff))
    })

    val documents = read("documents")
    val docOff = offsetFor(documents, "doc_id")
    write("documents", copies(documents) { (df, i) =>
      val text = if (i == 0) col("text") else concat(col("text"), lit(s" c$i"))
      df.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    val embeddings = read("embeddings")
    val vecOff = offsetFor(embeddings, "vec_id")
    write("embeddings", copies(embeddings) { (df, i) =>
      val jitter = transform(col("embedding"), (x, d) =>
        (x * (lit(1.0f) + lit(0.01f) * ((lit(i * 31) + d) % 7 - 3))).cast("float"))
      df.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", if (i == 0) col("embedding") else jitter)
    })

    spark.stop()
  }
}
