package graft
import graft.queries.{FlagshipQueries, GraphQueries, PipelineQueries, RelationalQueries, StreamingQueries, TemporalQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every operator family in SURVEY §2 (scans, filters, joins,
  * aggregates, windows, set ops, pivot, scalar fns, n-gram analyzers) plus
  * the training-data-pipeline operators (dedup, similarity, text stats,
  * multimodal plumbing) to named queries over the driver's testdata tables;
  * `oracleSql` carries the DuckDB-equivalent SQL for each (null → rows-only).
  */
object SparkEntry {

  private val entries: Seq[RelationalQueries.Entry] =
    RelationalQueries.all ++ PipelineQueries.all ++ GraphQueries.all ++
      TemporalQueries.all ++ StreamingQueries.all ++ FlagshipQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a2_flagship_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each fn runs
    * with [[PipelineQueries.currentEntry]] bound to its name so cross-entry
    * shared stores can attribute their materialization cost (bench_out's
    * `sharedStores` map).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (name, fn, _) =>
      name -> ((s: SparkSession, d: String) =>
        PipelineQueries.currentEntry.withValue(name)(fn(s, d)))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    entries.collect { case (name, _, sql) if sql != null => name -> sql }.toMap

  /** Cross-entry shared stores in warm-up order: (store, the entries that
    * read it, the hook that builds it). The corpus stores behind
    * `warmSharedStores` are read across the registry, so any selection
    * builds them.
    */
  private[graft] def warmTable: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("corpus", queries.keySet, PipelineQueries.warmSharedStores),
    ("louvain", Set("g_louvain", "g_louvain2", "g_leiden"), GraphQueries.warmShared),
    ("lpa", Set("g_label_prop", "g_louvain"), GraphQueries.warmLpa),
    ("cc-labels", Set("d8_cc_components", "d16_cluster_sizes", "d20_cluster_keep_best"),
      PipelineQueries.warmCcLabels),
    ("flagship", Set("pipeline_flagship"), (s, _) => FlagshipQueries.warmStore(s)),
    ("hnsw-layers", Set("sim_hnsw_search"), PipelineQueries.warmHnswLayers),
    ("knng-append-base", Set("sim_knng_append", "stream_knng_append"),
      PipelineQueries.warmKnngAppendBase),
    ("staged-replays", queries.keySet.filter(_.startsWith("stream_")),
      StreamingQueries.warmStagedReplays))

  /** Build, untimed, every shared store a `selected` entry reads, so no
    * entry's timing depends on being a store's first consumer (attribution
    * `_warmup` in `PipelineQueries.sharedStoreMaterializers`). A store that
    * fails to build is logged to stderr and left to its consumers.
    */
  def warmFor(spark: SparkSession, sfDir: String, selected: collection.Set[String]): Unit =
    for ((store, readers, warm) <- warmTable if readers.exists(selected.contains))
      try warm(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"warmup: $store store failed: $e") }
}
