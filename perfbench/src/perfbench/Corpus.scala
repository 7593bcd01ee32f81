package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Seeded generator of a CL-shaped RDF/XML corpus, and the pipeline's
  * expected output computed from what it wrote.
  *
  * Shape: `classes` generated CL classes (numbers from 2000000, disjoint
  * from the committed `macrophage.owl` fixture), spread round-robin over
  * `files` files, the first of which is `cl.owl` (the pass-2 file).
  * Each class carries a label, an `oboInOwl:id`, a definition, `hasDbXref`
  * literals, sometimes a synonym, 0-3 hub-skewed `subClassOf` parents and
  * 0-2 `someValuesFrom` restrictions. A share of classes is obsolete
  * (label "obsolete …" plus `owl:deprecated`), and a share is restated in
  * the next file (label + first parent), the way imports repeat terms.
  * `macrophage.owl` and `ro.owl` are copied in from the repository's test
  * fixtures. The same (seed, shape) writes a byte-identical corpus.
  *
  * The expected counts come from a direct evaluation of the pipeline's
  * documented semantics over the generated statements (root-namespace
  * class filter, predicate whitelist, restriction flattening, cross-file
  * dedup, vertex whitelist, "obsolete" routing, referential integrity),
  * not from running the product.
  */
object Corpus {
  val Obo = "http://purl.obolibrary.org/obo/"
  val Rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  val OboInOwl = "http://www.geneontology.org/formats/oboInOwl#"
  val SubClassOf: String = Rdfs + "subClassOf"
  val Label: String = Rdfs + "label"
  val RootNs: String = Obo + "CL"
  val FirstNumber = 2000000

  /** A restriction property, its resolved edge label and its target pool. */
  final case class Prop(ro: String, label: String, target: String, base: Int, pool: Int)
  val Props: Seq[Prop] = Seq(
    Prop("RO_0002202", "develops from", "CL", 0, 0), // target: an earlier generated class
    Prop("RO_0002215", "capable of", "GO", 1000000, 200),
    Prop("RO_0002175", "present in taxon", "NCBITaxon", 100000, 6),
    Prop("RO_0001025", "RO_0001025", "UBERON", 3000000, 300)) // absent from ro.owl: label stays raw

  private val Adjectives = Seq("activated", "mature", "immature", "resident", "migratory",
    "circulating", "peripheral", "germinal", "stromal", "epithelial", "neural", "ciliated",
    "secretory", "contractile", "basal", "luminal")
  private val Nouns = Seq("myeloid", "lymphoid", "glial", "endothelial", "mesenchymal",
    "hepatic", "renal", "cardiac", "retinal", "cortical", "intestinal", "pulmonary")
  private val XrefDbs = Seq("FMA", "BTO", "CALOHA", "ZFA", "MESH", "UBERON")

  /** A statement as the pipeline collects it (object is a URI or a literal). */
  final case class Stmt(s: String, p: String, o: String, lit: Boolean)

  /** One generated class. */
  final case class Cls(i: Int, label: String, obsolete: Boolean, literals: Seq[(String, String)],
                       parents: Seq[Int], restrictions: Seq[(Prop, String)], home: Int) {
    def number: String = (FirstNumber + i).toString
    def uri: String = uriOf(i)
  }
  def uriOf(i: Int): String = s"${Obo}CL_${FirstNumber + i}"

  /** The search code word of class `i`: "zq" + 4 letters shared by a group
    * of 7 consecutive classes + the class index. Whole codes are unique;
    * the 6-letter prefix selects the group.
    */
  def codePrefix(i: Int): String = {
    var g = i / 7
    val sb = new StringBuilder("zq")
    for (_ <- 0 until 4) { sb.append(('a' + g % 26).toChar); g /= 26 }
    sb.toString
  }
  def code(i: Int): String = codePrefix(i) + i

  final case class Shape(classes: Int, files: Int) {
    def fileName(f: Int): String = if (f == 0) "cl.owl" else f"cl-import-$f%02d.owl"
  }

  /** Expected output of one pipeline pass. */
  final case class PassTruth(collected: Long, unique: Long, vertices: Long, deprecated: Long,
                             edgesBuilt: Long, edgesKept: Long, edgeLabels: Long) {
    def kept: Long = vertices - deprecated
    def riDropped: Long = edgesBuilt - edgesKept
  }

  final case class Generated(shape: Shape, classes: IndexedSeq[Cls], bytes: Long,
                             rawStatements: Long, pass1: PassTruth, pass2: PassTruth,
                             model1: Model)

  def generate(seed: Long, shape: Shape, dir: Path, fixtures: Path): Generated = {
    val rnd = new scala.util.Random(seed)
    val n = shape.classes
    val classes = (0 until n).map { i =>
      val obsolete = i > 0 && rnd.nextDouble() < 0.04
      val base = s"${Adjectives(rnd.nextInt(Adjectives.size))} ${Nouns(rnd.nextInt(Nouns.size))} cell ${code(i)}"
      val label = if (obsolete) s"obsolete $base" else base
      // hub skew: parents concentrate on low indices (u^3)
      def skewed(): Int = math.min(i - 1, (i * math.pow(rnd.nextDouble(), 3)).toInt)
      val nParents = if (i == 0) 0 else { val u = rnd.nextDouble(); if (u < 0.6) 1 else if (u < 0.9) 2 else 3 }
      val parents = Iterator.continually(skewed()).take(nParents * 3).distinct.take(nParents).toSeq
      val nRestr = { val u = rnd.nextDouble(); if (u < 0.5) 0 else if (u < 0.85) 1 else 2 }
      val restrictions = (0 until nRestr).map { _ =>
        val p = { val x = Props(rnd.nextInt(Props.size)); if (x.target == "CL" && i == 0) Props(1) else x }
        val target =
          if (p.target == "CL") uriOf(skewed())
          else s"$Obo${p.target}_${p.base + (p.pool * math.pow(rnd.nextDouble(), 2)).toInt}"
        (p, target)
      }.distinct
      val xrefs = (0 until rnd.nextInt(4)).map(_ =>
        s"${XrefDbs(rnd.nextInt(XrefDbs.size))}:${rnd.nextInt(100000)}").distinct
      val literals = Seq(
        (s"${Obo}IAO_0000115", s"A $base that is characterized by marker set ${rnd.nextInt(1000)}."),
        (OboInOwl + "id", s"CL:${FirstNumber + i}")) ++
        xrefs.map(x => (OboInOwl + "hasDbXref", x)) ++
        (if (rnd.nextDouble() < 0.3) Seq((OboInOwl + "hasExactSynonym", s"${Nouns(rnd.nextInt(Nouns.size))} cell ${i}")) else Nil) ++
        Seq((Label, label))
      Cls(i, label, obsolete, literals, parents, restrictions, i % shape.files)
    }
    val restated = classes.filter(_ => rnd.nextDouble() < 0.15).map(_.i).toSet

    Files.createDirectories(dir)
    val bodies = Array.fill(shape.files)(new StringBuilder)
    val raw = Array.fill(shape.files)(3L) // ontology header: rdf:type, versionIRI, IAO_0000700
    for (c <- classes) {
      val b = bodies(c.home)
      b.append(s"""  <owl:Class rdf:about="${c.uri}">\n""")
      c.parents.foreach(p => b.append(s"""    <rdfs:subClassOf rdf:resource="${uriOf(p)}"/>\n"""))
      c.restrictions.foreach { case (p, t) =>
        b.append("    <rdfs:subClassOf>\n      <owl:Restriction>\n")
        b.append(s"""        <owl:onProperty rdf:resource="$Obo${p.ro}"/>\n""")
        b.append(s"""        <owl:someValuesFrom rdf:resource="$t"/>\n""")
        b.append("      </owl:Restriction>\n    </rdfs:subClassOf>\n")
      }
      c.literals.foreach { case (p, v) => b.append(s"    <${qname(p)}>$v</${qname(p)}>\n") }
      if (c.obsolete)
        b.append("    <owl:deprecated rdf:datatype=\"http://www.w3.org/2001/XMLSchema#boolean\">true</owl:deprecated>\n")
      b.append("  </owl:Class>\n\n")
      raw(c.home) += 1 + c.parents.size + 4 * c.restrictions.size + c.literals.size + (if (c.obsolete) 1 else 0)
      if (restated(c.i)) {
        val f = (c.home + 1) % shape.files
        val r = bodies(f)
        r.append(s"""  <owl:Class rdf:about="${c.uri}">\n""")
        c.parents.headOption.foreach(p => r.append(s"""    <rdfs:subClassOf rdf:resource="${uriOf(p)}"/>\n"""))
        r.append(s"    <rdfs:label>${c.label}</rdfs:label>\n  </owl:Class>\n\n")
        raw(f) += 2 + c.parents.headOption.size
      }
    }
    var bytes = 0L
    for (f <- 0 until shape.files) {
      val text = header(shape.fileName(f), seed) + bodies(f) + "</rdf:RDF>\n"
      val data = text.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(shape.fileName(f)), data)
      bytes += data.length
    }
    for (fx <- Seq("macrophage.owl", "ro.owl")) {
      val data = Files.readAllBytes(fixtures.resolve(fx))
      Files.write(dir.resolve(fx), data)
      bytes += data.length
    }

    // ---- expected output ------------------------------------------------
    val byFile = mutable.Map.empty[String, mutable.ArrayBuffer[Stmt]]
    def add(f: String, st: Stmt): Unit = byFile.getOrElseUpdate(f, mutable.ArrayBuffer.empty) += st
    for (c <- classes) {
      val f = shape.fileName(c.home)
      c.parents.foreach(p => add(f, Stmt(c.uri, SubClassOf, uriOf(p), lit = false)))
      c.restrictions.foreach { case (p, t) => add(f, Stmt(c.uri, Obo + p.ro, t, lit = false)) }
      c.literals.foreach { case (p, v) => add(f, Stmt(c.uri, p, v, lit = true)) }
      if (restated(c.i)) {
        val g = shape.fileName((c.home + 1) % shape.files)
        c.parents.headOption.foreach(p => add(g, Stmt(c.uri, SubClassOf, uriOf(p), lit = false)))
        add(g, Stmt(c.uri, Label, c.label, lit = true))
      }
    }
    Macrophage.foreach(add("macrophage.owl", _))
    val all = byFile.toSeq.map { case (f, st) => f -> st.toSeq }
    val m1 = Model(all, testObject = false)
    val m2 = Model(all.filter(_._1 == "cl.owl"), testObject = true)
    Generated(shape, classes, bytes, raw.sum + MacrophageRaw + RoRaw,
      m1.truth, m2.truth, m1)
  }

  private def qname(p: String): String =
    if (p.startsWith(OboInOwl)) "oboInOwl:" + p.stripPrefix(OboInOwl)
    else if (p.startsWith(Rdfs)) "rdfs:" + p.stripPrefix(Rdfs)
    else "obo:" + p.stripPrefix(Obo)

  private def header(name: String, seed: Long): String =
    s"""<?xml version="1.0"?>
       |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
       |         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
       |         xmlns:owl="http://www.w3.org/2002/07/owl#"
       |         xmlns:obo="http://purl.obolibrary.org/obo/"
       |         xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
       |  <owl:Ontology rdf:about="http://purl.obolibrary.org/obo/$name">
       |    <owl:versionIRI rdf:resource="http://purl.obolibrary.org/obo/cl/releases/seed-$seed/$name"/>
       |    <obo:IAO_0000700 rdf:resource="http://purl.obolibrary.org/obo/CL_0000000"/>
       |  </owl:Ontology>
       |
       |""".stripMargin

  /** Raw statements the RDF/XML parser emits for the two copied fixtures. */
  val MacrophageRaw = 47L
  val RoRaw = 13L

  /** The collected statements of the committed macrophage.owl fixture
    * (`valid_0000001` is outside the CL root namespace, so it is not a
    * class of the file and contributes nothing).
    */
  private val Macrophage: Seq[Stmt] = {
    def c(n: String) = s"${Obo}CL_$n"
    val simple = Seq("0000000" -> "cell", "0000113" -> "mononuclear phagocyte",
      "0000145" -> "professional antigen presenting cell", "0000766" -> "myeloid leukocyte",
      "0000576" -> "monocyte").flatMap { case (n, l) =>
      Seq(Stmt(c(n), Label, l, lit = true), Stmt(c(n), OboInOwl + "id", s"CL:$n", lit = true)) }
    val m = c("0000235")
    simple ++ Seq("0000113", "0000145", "0000766").map(p => Stmt(m, SubClassOf, c(p), lit = false)) ++ Seq(
      Stmt(m, Obo + "RO_0002202", c("0000576"), lit = false),
      Stmt(m, Obo + "RO_0002215", Obo + "GO_0031268", lit = false),
      Stmt(m, Obo + "RO_0002175", Obo + "NCBITaxon_9606", lit = false),
      Stmt(m, Obo + "IAO_0000115", "definition", lit = true),
      Stmt(m, OboInOwl + "hasExactSynonym", "histiocyte", lit = true),
      Stmt(m, OboInOwl + "id", "CL:0000235", lit = true),
      Stmt(m, Rdfs + "comment", "comment", lit = true),
      Stmt(m, Label, "macrophage", lit = true)) ++
      Seq("ZFA:0009141", "CALOHA:TS-0587", "MESH:D008264", "FMA:83585", "BTO:0000801", "FMA:63261")
        .map(x => Stmt(m, OboInOwl + "hasDbXref", x, lit = true))
  }

  /** Resolved edge label of a predicate (fragment, else RO dictionary, else raw). */
  private def edgeLabel(p: String): String =
    if (p == SubClassOf) "subClassOf"
    else Props.find(x => Obo + x.ro == p).map(_.label).getOrElse(p.substring(p.lastIndexOf('/') + 1))

  /** (id, number) of a vertex URI; every id the generator emits is whitelisted. */
  def key(uri: String): (String, String) = {
    val term = uri.substring(uri.lastIndexOf('/') + 1)
    val k = term.indexOf('_')
    (term.substring(0, k), term.substring(k + 1))
  }

  /** One pass's graph, evaluated directly from the collected statements. */
  final case class Model(files: Seq[(String, Seq[Stmt])], testObject: Boolean) {
    private val collectedStmts: Seq[Stmt] = files.flatMap(_._2)
      .filter(st => st.lit || !testObject || st.o.contains(RootNs))
    val unique: Set[Stmt] = collectedStmts.toSet
    val vertices: Set[String] = unique.flatMap(st => Seq(st.s) ++ (if (st.lit) Nil else Seq(st.o)))
    val labels: Map[String, Seq[String]] =
      unique.toSeq.filter(st => st.lit && st.p == Label).groupBy(_.s).map { case (s, v) => s -> v.map(_.o) }
    val deprecated: Set[String] = vertices.filter(v => labels.getOrElse(v, Nil).exists(_.contains("obsolete")))
    val kept: Set[String] = vertices -- deprecated
    private val edgeStmts = unique.toSeq.filter(!_.lit)
    val edges: Map[(String, String), Set[String]] =
      edgeStmts.groupBy(st => (st.s, st.o)).map { case (k, v) => k -> v.map(st => edgeLabel(st.p)).toSet }
    val keptEdges: Map[(String, String), Set[String]] =
      edges.filter { case ((s, o), _) => kept(s) && kept(o) }
    def truth: PassTruth = PassTruth(collectedStmts.size, unique.size, vertices.size,
      deprecated.size, edges.size, keptEdges.size, edges.values.flatten.toSet.size)

    /** Kept out-neighbours of a vertex in the stored graph. */
    lazy val out: Map[String, Seq[String]] =
      keptEdges.keys.toSeq.groupBy(_._1).map { case (s, v) => s -> v.map(_._2) }
    /** Kept `subClassOf` parents of a vertex. */
    lazy val parents: Map[String, Seq[String]] =
      keptEdges.toSeq.filter(_._2("subClassOf")).map(_._1).groupBy(_._1)
        .map { case (s, v) => s -> v.map(_._2) }

    /** Min-hop levels of the `subClassOf` ancestors of `src` up to `hops`. */
    def ancestors(src: String, hops: Int): Map[String, Int] = {
      val seen = mutable.LinkedHashMap(src -> 0)
      var frontier = Seq(src)
      for (h <- 1 to hops) {
        frontier = frontier.flatMap(parents.getOrElse(_, Nil)).distinct.filterNot(seen.contains)
        frontier.foreach(seen(_) = h)
      }
      seen.toMap
    }
  }

  /** Attribute name of a literal predicate, as the pipeline resolves it. */
  private def attribute(p: String): String =
    if (p == Obo + "IAO_0000115") "definition" else p.substring(math.max(p.lastIndexOf('#'), p.lastIndexOf('/')) + 1)

  /** Kept vertices of a pass as store rows: (id, number, attrs). */
  def vertexRows(m: Model): Seq[(String, String, Map[String, Seq[String]])] = {
    val attrs = m.unique.toSeq.filter(_.lit).groupBy(_.s)
    m.kept.toSeq.sorted.map { v =>
      val (id, num) = key(v)
      (id, num, attrs.getOrElse(v, Nil).groupBy(st => attribute(st.p)).map { case (a, st) => a -> st.map(_.o).sorted })
    }
  }

  /** Kept edges of a pass as store rows:
    * (from_id, from_number, to_id, to_number, raw_labels, labels, label, source).
    */
  def edgeRows(m: Model): Seq[(String, String, String, String, Seq[String], Seq[String], String, String)] =
    m.keptEdges.toSeq.sortBy(_._1).map { case ((s, o), ls) =>
      val (fi, fn) = key(s)
      val (ti, tn) = key(o)
      val raw = ls.toSeq.sorted
      val norm = raw.map(l => if (l == "subClassOf") "SUB_CLASS_OF" else l.toUpperCase.replace(" ", "_"))
      (fi, fn, ti, tn, raw, norm, norm.last, fi.toUpperCase)
    }

  def writeExpected(g: Generated, path: Path): Unit = {
    def pass(t: PassTruth) =
      s"""{"collected": ${t.collected}, "unique": ${t.unique}, "vertices": ${t.vertices}, "kept": ${t.kept}, """ +
        s""""deprecated": ${t.deprecated}, "edges_built": ${t.edgesBuilt}, "edges_kept": ${t.edgesKept}, """ +
        s""""ri_dropped": ${t.riDropped}, "edge_labels": ${t.edgeLabels}}"""
    val json = s"""{"corpus_bytes": ${g.bytes}, "raw_statements": ${g.rawStatements}, "files": ${g.shape.files + 2}, """ +
      s""""classes": ${g.shape.classes}, "ontologies": ${pass(g.pass1)}, "phenotypes": ${pass(g.pass2)}}"""
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    // standalone: Corpus <seed> <classes> <files> <outDir> <fixturesDir>
    val g = generate(args(0).toLong, Shape(args(1).toInt, args(2).toInt), Paths.get(args(3)), Paths.get(args(4)))
    writeExpected(g, Paths.get(args(3)).resolve("expected.json"))
  }
}
