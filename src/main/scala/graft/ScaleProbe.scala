package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 100×-shape evidence: replicate documents/embeddings
  * ×F with per-replica rehash (each replica's content is distinct, so
  * corpus VOLUME grows without manufacturing cross-replica
  * duplicates) — and the fact tables (lineitem/orders/events) with
  * per-replica key offsets over a SHARED dim catalog and time span —
  * run the riskiest dedup/ANN/fact-join queries at each factor, and
  * report wall time plus max-task skew — converting the "yes at
  * 100 TB" design arguments into measurements, and surfacing any
  * hot-key blow-up before a user does.
  *
  * `runMain graft.ScaleProbe [baseDir] [factors] [queries]`
  * prints one line per (query, factor, pass):
  * `[scale] <q> x<F> pass<p>: <sec> s skew=<maxTask/meanTask>`.
  * Pass 1 includes the replica's stage builds; pass 2 is the steady
  * state. Skew is the worst per-stage max/mean task-duration ratio
  * over stages with ≥ 8 tasks (1.0 = perfectly balanced).
  *
  * Rehash: replica i > 0 prefixes every word with `r{i}q` (every
  * shingle/hash changes — the clean volume-scaling setup; boilerplate
  * hot keys are HotShingleSpec's constructed job, not this one) and
  * rotates each embedding by i mod dim positions, then sign-flips
  * coordinates by a hash pattern keyed on the rotation block i / dim
  * (both transforms norm-preserving). The sign flip is what keeps
  * replicas distinct past factor dim: with rotation alone, replica
  * dim+j would be byte-identical to replica j and the ×100 dedup/ANN
  * numbers would be inflated by manufactured exact-duplicate pairs.
  * Replica 0 is the base bytes, so ×1 equals the unreplicated run.
  */
object ScaleProbe {

  /** Key offset separating replicas' id spaces (far above any real
    * key at probe scale, so replica joins never collide).
    */
  private val KeyOff = 1L << 40

  private def replicate(s: SparkSession, base: String, dir: String,
      f: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // _READY2: v2 adds the fact tables (lineitem/orders/events) and
    // dim copies for the fact-fact join family; v1 dirs rebuild
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_READY2"))) return
    val docs = s.read.parquet(s"$base/documents.parquet")
    val embs = s.read.parquet(s"$base/embeddings.parquet")
    val dim = 64
    def docRep(i: Int): DataFrame =
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i.toLong * 1000000L)).alias("doc_id"),
        regexp_replace(col("text"), "(^| )", s"$$1r${i}q").alias("text"),
        col("lang"), col("source"), col("n_chars"))
    def embRep(i: Int): DataFrame = {
      val r = i % dim
      val block = i / dim
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      // block 0 keeps the base bytes (×1 == unreplicated); block b>0
      // negates coordinate j iff hash(b, j) is odd — a deterministic
      // per-block sign mask, so replicas i and i+dim never coincide
      val perturbed =
        if (block == 0) rotated
        else transform(rotated, (x, j) =>
          when(pmod(hash(lit(block), j), lit(2)) === 1, -x).otherwise(x))
      embs.select(
        (col("vec_id") + lit(i.toLong * 1000000L)).alias("vec_id"),
        perturbed.alias("embedding"),
        col("label"))
    }
    (0 until f).map(docRep).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until f).map(embRep).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // Fact tables for the fact-fact join family. The replication
    // preserves each query's claimed scale shape so the probe tests
    // it honestly:
    //  - lineitem/orders: replica i offsets the ORDER key only; the
    //    part/supplier catalog stays shared, so ×F means F× more
    //    orders over the same catalog (basket pair volume must grow
    //    linearly via Σk², per-part counts ×F — the claimed bound);
    //  - events: replica i offsets user/event ids but keeps the
    //    TIMESTAMPS, so ×F means F× more concurrent users in the
    //    same wall-clock span (rel_concurrency's per-second sweep
    //    table must stay O(span), not O(data) — the claimed bound).
    val li = s.read.parquet(s"$base/lineitem.parquet")
    val ord = s.read.parquet(s"$base/orders.parquet")
    val ev = s.read.parquet(s"$base/events.parquet")
    def liRep(i: Int): DataFrame =
      if (i == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff))
    def ordRep(i: Int): DataFrame =
      if (i == 0) ord
      else ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff))
    def evRep(i: Int): DataFrame =
      if (i == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(i * KeyOff))
        .withColumn("user_id", col("user_id") + lit(i * KeyOff))
    (0 until f).map(liRep).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (0 until f).map(ordRep).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (0 until f).map(evRep).reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // dims copy through unreplicated (the shared-catalog side)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      s.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_READY2")).close()
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.01")
    val factors =
      if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(1, 10, 100)
    val names =
      if (args.length > 2) args(2).split(",").toSeq
      else Seq("dd_minhash_lsh", "dd_cluster", "dd_ngram_jaccard",
        "sim_knn_graph",
        // the fact-join family the fact-table replication exists for
        "rel_basket_affinity", "rel_wait_suppliers", "rel_concurrency")
    val spark = GraftSession.local()
    GraftSession.applyEnvConf(spark)
    val cost = Cost.attach(spark)
    val sc = spark.sparkContext
    for (f <- factors) {
      val dir = s"/tmp/graft_scale_x$f"
      replicate(spark, base, dir, f)
      spark.conf.set("graft.stage.dir", s"/tmp/graft_scale_stage_x$f")
      for (n <- names; pass <- 1 to 2) {
        spark.catalog.clearCache()
        val group = s"scale-$n-x$f-pass$pass"
        sc.setJobGroup(group, n)
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        finally sc.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        val skew = cost.take(group).map(_.worstSkew).getOrElse(1.0)
        println(f"[scale] $n x$f pass$pass: $sec%.2f s skew=$skew%.1f")
      }
    }
    spark.stop()
  }
}
