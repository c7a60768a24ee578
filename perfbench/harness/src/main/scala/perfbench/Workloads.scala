package perfbench

import graft.SparkEntry

/** A named workload: its queries (registry names) by family and the
  * input tables it reads. `warmedByBuilds`: constructing a query does
  * all of its work (a one-shot stream runs when it is constructed), so
  * repeated builds warm the passes up. */
final case class Workload(
    name: String,
    families: Seq[(String, Seq[String])],
    tables: Seq[String],
    streaming: Boolean = false,
    warmedByBuilds: Boolean = false) {
  lazy val queries: Seq[(String, Main.Query)] =
    families.flatMap(_._2).map(n => n -> Workloads.fn(n))
}

object Workloads {
  def fn(name: String): Main.Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"query $name is not registered"))

  /** The paper's own surface: staging views, the core marts and the
    * time marts over them, and the semantic-layer metric queries. The
    * passes query the marts the build materialized. */
  val marts = Workload("marts",
    Seq(
      "staging" -> Seq("stg_customers", "stg_orders", "stg_order_items", "stg_products"),
      "core_marts" -> Seq("order_items", "orders", "customers"),
      "time" -> Seq("time_spine", "daily_summary", "weekly_summary", "revenue_rollup",
        "daily_moving_stats"),
      "semantic" -> Seq("metric_revenue_pct", "metric_order_gross_profit",
        "metric_cumulative_revenue", "metric_large_orders",
        "metric_revenue_by_customer_type", "metric_p90_revenue", "order_metrics")),
    tables = Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region"))

  /** The write side: one-shot streams covering windowed aggregation,
    * session state, a stream-static join, dedup, a parquet sink and
    * incremental view maintenance. Each pass gets its own scratch tag,
    * so it processes on fresh checkpoints. */
  val streams = Workload("streams",
    Seq("stream" -> Seq("stream_windowed_counts", "stream_sessions_multibatch",
      "stream_segment_counts_multibatch", "stream_dedup_multibatch",
      "stream_sink_parquet", "stream_ivm_agg")),
    tables = Seq("events", "documents", "customer", "orders", "lineitem"),
    streaming = true, warmedByBuilds = true)

  val all: Seq[Workload] = Seq(marts, streams)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap

  /** The family of a query, kept here until the program's registry
    * carries it. */
  lazy val family: Map[String, String] =
    all.flatMap(_.families).flatMap { case (f, ns) => ns.map(_ -> f) }.toMap

  /** Every family the per-layer rollups report, present or not. */
  val familyNames: Seq[String] = all.flatMap(_.families.map(_._1)).distinct
}
