package graft.pipeline

import graft.functions.GraftExtensions
import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, TripleOps, UriOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship two-pass ETL DAG (SURVEY.md §3.1,
  * reference: OntologyGraphBuilder.main, OntologyGraphBuilder.java:491-626):
  *
  * pass 1 ("ontologies"): all OWL files (ro.owl as label dictionary only) →
  * unique triples → vertices + attributes + edges → graph store + text sinks.
  * pass 2 ("phenotypes"): cl.owl only, testObject=true, RO dictionary
  * injected (reference :577) → CL-only subgraph.
  *
  * Unlike the reference — which re-parses cl.owl from scratch for pass 2 —
  * the parsed raw statements are cached and reused (SURVEY §3.2).
  *
  * The entry point takes (oboDir, outDir) parameters, which the reference's
  * integration test implies but its main ignores (SURVEY §3.1 discrepancy
  * note, OntologyGraphBuilderTest.java:347-348).
  */
object OntologyPipeline {

  /** CLI entry point: `runMain graft.pipeline.OntologyPipeline <oboDir> <outDir>
    * [phenotypePattern] [--last-wins]` — the engine's analog of
    * OntologyGraphBuilder.main with the (dir, db) parameters its integration
    * test implies. `--last-wins` selects the reference's single-value
    * attribute semantics (HashMap put, OntologyGraphBuilder.java:224-229), so
    * the deprecated gate tests only the FINAL value of each attribute; the
    * default keeps the integration test's intended multi-value lists.
    */
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: OntologyPipeline <oboDir> <outDir> [phenotypePattern] [--last-wins]")
    val lastWins = flags.contains("--last-wins")
    val pattern = if (pos.length >= 3) pos(2) else "cl\\.owl"
    val spark = sys.env.get("SPARK_MASTER")
      .fold(GraftExtensions.session())(GraftExtensions.session(_))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, pos(0), pos(1), lastWins = lastWins, phenotypePattern = pattern)
    finally spark.stop()
  }

  /** Result handles of one pipeline pass. `unpersist()` after the outputs
    * are written.
    */
  final case class GraphResult(
      vertices: DataFrame, // kept vertices with attrs map
      deprecated: DataFrame, // routed-out vertices
      edges: DataFrame, // RI-checked edges
      edgeLabels: DataFrame,
      cached: Seq[DataFrame]) {
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  /** One parameterized pass (reference runs it twice with different params).
    * The deduplicated triple set and the kept-vertex set are consumed by
    * several independent sink writes — cache both so each write doesn't
    * re-run the parse/dedup DAG.
    */
  def buildGraph(
      raw: DataFrame,
      meta: DataFrame,
      roTerms: DataFrame,
      testObject: Boolean,
      lastWins: Boolean = false): GraphResult = {
    val collected = TripleOps.collectTriples(raw, meta, testObject)
    val unique = TripleOps.uniqueTriples(collected).cache()
    val verts = GraphOps.vertices(unique)
    val attrs = GraphOps.vertexAttributes(unique, roTerms, lastWins)
    val (kept0, deprecated) = GraphOps.routeDeprecated(verts, attrs)
    val kept = kept0.cache()
    val allEdges = GraphOps.edges(unique, roTerms)
    val labels = GraphOps.edgeLabels(allEdges)
    val edges = GraphOps.edgesWithIntegrity(allEdges, kept)
    GraphResult(kept, deprecated, edges, labels, Seq(unique, kept))
  }

  /** Full two-pass run over a directory of OWL files, writing the graph store
    * and side outputs beneath `outDir` (`ontologies/`, `phenotypes/`).
    * `phenotypePattern` selects pass-2's file set (the reference hard-codes
    * "cl.owl", OntologyGraphBuilder.java:566; its integration test runs on a
    * fixture dir without cl.owl, so the pattern is a parameter here).
    */
  def run(spark: SparkSession, oboDir: String, outDir: String,
          lastWins: Boolean = false, phenotypePattern: String = "cl\\.owl"): Unit = {
    val allFiles = OwlReader.listFilesMatchingPattern(oboDir, ".*\\.owl")
    require(allFiles.nonEmpty, s"No OBO files found in $oboDir")
    val phenotypeRegex = phenotypePattern.r

    // Source stage: parse once, reuse across both passes. Parsing yields one
    // partition per FILE (RDF/XML is not splittable); when files are fewer
    // than cores, spread the parsed triples before caching so every
    // downstream stage is parallel. At cluster scale (files >> cores) this
    // branch never fires and no extra shuffle is paid.
    val parallelism = spark.sparkContext.defaultParallelism
    val parsed = OwlReader.triples(spark, allFiles).toDF()
    val raw = (if (allFiles.size < parallelism) parsed.repartition(parallelism) else parsed).cache()
    val meta = OwlReader.meta(spark, allFiles).toDF().cache()
    val terms = OwlReader.terms(spark, allFiles).toDF()
    val roTerms = terms
      .filter(UriOps.fileStemCol(col("srcFile")) === "ro")
      .select("term", "label")
      .cache()

    // Pass 1: full ontology graph (testObject = false).
    val pass1 = buildGraph(raw, meta, roTerms, testObject = false, lastWins)
    GraphSink.writeVertices(pass1.vertices, s"$outDir/ontologies")
    GraphSink.writeEdges(pass1.edges, s"$outDir/ontologies")
    GraphSink.writeDeprecatedTerms(pass1.deprecated, s"$outDir/ontologies")
    GraphSink.writeEdgeLabels(pass1.edgeLabels, s"$outDir/ontologies")
    pass1.unpersist()

    // Pass 2: CL-only phenotype subgraph (testObject = true, RO dict injected).
    val phenoFiles = allFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
      .filter(n => phenotypeRegex.pattern.matcher(n).matches())
    val clRaw = raw.filter(col("srcFile").isin(phenoFiles: _*))
    val clMeta = meta.filter(col("srcFile").isin(phenoFiles: _*))
    if (phenoFiles.nonEmpty) {
      val pass2 = buildGraph(clRaw, clMeta, roTerms, testObject = true, lastWins)
      GraphSink.writeVertices(pass2.vertices, s"$outDir/phenotypes")
      GraphSink.writeEdges(pass2.edges, s"$outDir/phenotypes")
      GraphSink.writeDeprecatedTerms(pass2.deprecated, s"$outDir/phenotypes")
      GraphSink.writeEdgeLabels(pass2.edgeLabels, s"$outDir/phenotypes")
      pass2.unpersist()
    }
    raw.unpersist(); meta.unpersist(); roTerms.unpersist()
  }
}
