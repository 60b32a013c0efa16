package graftbench

import graft.SparkEntry

/** operator_mix: 20 of the engine's declared queries over a committed
  * copy of the sf0.01 test tables. Each op is one pass that forces every
  * query once through a noop sink, in an order drawn from the seed.
  * Closed loop, one op in flight.
  *
  * Set-up runs each query once and writes its result as Parquet; the
  * caller hashes those results against values pinned from the DuckDB
  * oracle. That pass and one more serial pass warm up the JIT and
  * Spark's code generation. The serial passes run on the one session,
  * and the run checks that adaptive execution has its starting setting
  * before it times them.
  */
object OperatorMix {
  val Queries: Vector[String] = Vector("q1_agg", "q3_join_agg", "q5_window_topk",
    "q18_event_window", "q28_minhash_dedup", "q29_simhash_dedup", "q39_dedup_clusters",
    "q51_kmeans", "q53_semdedup", "q55_pipeline", "q72_bpe_merges", "q75_logreg",
    "q80_bpe_pack", "q92_bigram_lm", "q98_bpe_efficiency", "q101_balance_chi2",
    "q106_ppl_buckets", "q112_lsh_tune", "q176_phash_clusters", "q183_video_dedup")

  private val Aqe = "spark.sql.adaptive.enabled"

  def run(r: Run, data: String): Unit = {
    val results = s"${r.work}/mix_results"
    val aqe = r.spark.conf.get(Aqe)
    // the check pass runs the queries concurrently: it only has to
    // produce the results and warm up, and running it serially takes a
    // third longer. Each query gets a session of its own (sharing the
    // SparkContext): several queries turn adaptive execution off for
    // their own run and put the old value back, which races when
    // concurrent queries share one session's settings.
    r.setup(1) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(r.cpus)
      try {
        Queries.map { q =>
          pool.submit(new Runnable {
            def run(): Unit = SparkEntry.queries(q)(r.spark.newSession(), data).coalesce(1)
              .write.mode("overwrite").parquet(s"$results/$q")
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      release(r)
    }
    r.out.put("mix_results", results)
    require(r.spark.conf.get(Aqe) == aqe,
      s"$Aqe changed from $aqe to ${r.spark.conf.get(Aqe)} during the check pass")
    // one serial pass before timing: after the concurrent pass the JIT is
    // still compiling hard, and the pass it overlaps varies by ±15 %
    r.warmup(Queries.foreach { q =>
      r.noop(SparkEntry.queries(q)(r.spark, data))
      release(r)
    })
    require(r.spark.conf.get(Aqe) == aqe,
      s"$Aqe changed from $aqe to ${r.spark.conf.get(Aqe)} during the warm-up")
    val rnd = new scala.util.Random(r.seed)

    // a traced run also times one plain pass, to measure what tracing costs
    r.loop(min = if (r.traced) 2 else 1) { k =>
      val traced = r.traced && k % 2 == 0
      val id = r.newOp()
      r.tracing(traced)
      val order = rnd.shuffle(Queries)
      val t0 = System.nanoTime()
      val cpu0 = r.cpuNow()
      val times = r.spans("op", id) {
        order.map { q =>
          r.listener.filter(_ => traced).foreach(_.enter(id, q))
          val q0 = System.nanoTime()
          r.spans(s"queries.$q", id)(r.noop(SparkEntry.queries(q)(r.spark, data)))
          val dt = (System.nanoTime() - q0) / 1e9
          release(r)
          if (traced) r.sample(s"queries.${q}_s", dt)
          dt
        }
      }
      r.op(id, (System.nanoTime() - t0) / 1e9, r.cpuNow() - cpu0, ok = true, traced, times,
        order.mkString(","))
    }
    r.tracing(false)
  }

  /** Drops blocks a query cached or checkpointed, so each query starts
    * from the same state.
    */
  private def release(r: Run): Unit =
    r.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

}

/** Prints the DuckDB oracle SQL of the mix queries as one JSON object;
  * `perfbench/pin_oracle.py` runs it to pin the expected results.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    OperatorMix.Queries.foreach(q => node.put(q, SparkEntry.oracleSql(q)))
    println(node.toString)
  }
}
