package perfbench

import graft.io.{GraphSink, OwlReader}
import graft.ops.{GraphOps, TripleOps, UriOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `OntologyPipeline.run` recomposed from its public layer functions, in
  * the order `run` calls them, with each layer's output cached and counted
  * at its boundary so every layer's work lands in its own span. The
  * repartition of a parse with fewer files than cores runs inside the
  * parse span, because it executes in the parse job.
  */
object TracedPipeline {

  /** The layer spans of one pass, in call order. */
  val PassLayers: Seq[String] = Seq("triple_ops.collect", "triple_ops.dedup", "graph_ops.vertices",
    "graph_ops.attributes", "graph_ops.route_deprecated", "graph_ops.edges", "graph_ops.integrity",
    "graph_sink.vertices", "graph_sink.edges", "graph_sink.text")

  def run(spark: SparkSession, oboDir: String, outDir: String, t: Tracer): Unit = t.span("pipeline") {
    val allFiles = OwlReader.listFilesMatchingPattern(oboDir, ".*\\.owl")
    val parallelism = spark.sparkContext.defaultParallelism
    val (raw, meta, roTerms) = t.span("owl_reader.parse") {
      val parsed = OwlReader.triples(spark, allFiles).toDF()
      val raw = (if (allFiles.size < parallelism) parsed.repartition(parallelism) else parsed).cache()
      t.rows("owl_reader.parse", raw.count())
      val meta = OwlReader.meta(spark, allFiles).toDF().cache()
      meta.count()
      val roTerms = OwlReader.terms(spark, allFiles).toDF()
        .filter(UriOps.fileStemCol(col("srcFile")) === "ro")
        .select("term", "label")
        .cache()
      roTerms.count()
      (raw, meta, roTerms)
    }
    pass(raw, meta, roTerms, testObject = false, s"$outDir/ontologies", t)
    val phenotype = "cl\\.owl".r.pattern
    val phenoFiles = allFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
      .filter(n => phenotype.matcher(n).matches())
    if (phenoFiles.nonEmpty)
      pass(raw.filter(col("srcFile").isin(phenoFiles: _*)), meta.filter(col("srcFile").isin(phenoFiles: _*)),
        roTerms, testObject = true, s"$outDir/phenotypes", t)
    raw.unpersist(); meta.unpersist(); roTerms.unpersist()
  }

  private def pass(raw: DataFrame, meta: DataFrame, roTerms: DataFrame, testObject: Boolean,
                   out: String, t: Tracer): Unit = {
    def layer(name: String)(df: => DataFrame): DataFrame = t.span(name) {
      val c = df.cache()
      t.rows(name, c.count())
      c
    }
    val collected = layer("triple_ops.collect")(TripleOps.collectTriples(raw, meta, testObject))
    val unique = layer("triple_ops.dedup")(TripleOps.uniqueTriples(collected))
    val verts = layer("graph_ops.vertices")(GraphOps.vertices(unique))
    val attrs = layer("graph_ops.attributes")(GraphOps.vertexAttributes(unique, roTerms))
    val (kept, deprecated) = t.span("graph_ops.route_deprecated") {
      val (k, d) = GraphOps.routeDeprecated(verts, attrs)
      val (kc, dc) = (k.cache(), d.cache())
      t.rows("graph_ops.route_deprecated", kc.count() + dc.count())
      (kc, dc)
    }
    val (allEdges, labels) = t.span("graph_ops.edges") {
      val e = GraphOps.edges(unique, roTerms).cache()
      t.rows("graph_ops.edges", e.count())
      val l = GraphOps.edgeLabels(e).cache()
      l.count()
      (e, l)
    }
    val edges = layer("graph_ops.integrity")(GraphOps.edgesWithIntegrity(allEdges, kept))
    t.span("graph_sink.vertices")(GraphSink.writeVertices(kept, out))
    t.span("graph_sink.edges")(GraphSink.writeEdges(edges, out))
    t.span("graph_sink.text") {
      GraphSink.writeDeprecatedTerms(deprecated, out)
      GraphSink.writeEdgeLabels(labels, out)
    }
    Seq(collected, unique, verts, attrs, kept, deprecated, allEdges, labels, edges).foreach(_.unpersist())
  }
}
