package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.GraphEngine
import graft.model.{DictMorStore, GraphStore}
import graft.queries.ReferenceMappings._
import graft.sparql.SparqlParser

/** One closed-loop SPARQL client on one session against a
  * dictionary-encoded merge-on-read store ([[DictMorStore]]) holding the
  * pipeline's target graph.
  *
  * The client runs whole cycles of 11 operations. Eight are reads in
  * five shapes: point lookup by IRI, lookup by OR-id literal, typed
  * listing with ORDER BY and LIMIT, count per rdf:type, two-hop OPTIONAL
  * contact point; half of the point lookups hit an organisation updated
  * earlier in the run. Three are updates, one of each kind: a
  * DELETE/INSERT WHERE rename (new dictionary terms), a re-asserted
  * existing quad (no new terms) and a DELETE DATA. The client calls
  * `compactIfNeeded(g, MaxTailBatches)` after every update, inside the
  * update's latency.
  *
  * Correctness: the op log is replayed on the merge-on-write
  * [[GraphStore]] the served graph was loaded from; every third read's
  * rows and the final graph must match.
  */
final class Serve(ctx: Ctx, val store: DictMorStore, copies: Int) {
  import Serve._

  private val engine = new GraphEngine(store)
  private val client = new Client(ctx.seed, copies)
  private val log = mutable.ArrayBuffer.empty[(Op, Option[Seq[String]])]
  val reads = mutable.ArrayBuffer.empty[Double]
  val updates = mutable.ArrayBuffer.empty[Double]

  /** Run whole cycles of operations, each through [[execute]],
    * until `seconds` have passed. Returns the elapsed seconds. */
  def loop(seconds: Double, tr: Trace, lt: LayerTotals): Double = {
    val t0 = System.nanoTime()
    var n = 0
    while (n % cycle.size != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      val op = client.next()
      val (out, s) = ctx.timed(ctx.attempt(op.kind)(execute(tr, op, lt)))
      out.foreach { o =>
        log += op -> o
        (if (op.isInstanceOf[Read]) reads else updates) += s
      }
      ctx.log(f"op ${op.kind} ${s * 1000}%.0f ms")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One operation with the engine's calls split into spans: a separate
    * parse (the engine parses again inside), the DataFrame build, the
    * action, the update and the compaction check. */
  def execute(tr: Trace, op: Op, lt: LayerTotals): Option[Seq[String]] = {
    lt.parseMs += ctx.timed(tr.span("sparql.parse")(op match {
      case _: Read => SparqlParser.parseSelect(op.text, op.kind)
      case _ => SparqlParser.parseRequest(op.text, op.kind)
    }))._2 * 1000
    val (out, c) = tr.op(s"serve.${op.kind}") {
      op match {
        case r: Read =>
          val (df, buildS) = ctx.timed(tr.span("sparql.compile")(engine.select(r.text, r.kind)))
          val (rows, execS) = ctx.timed(tr.span("sparql.exec")(df.collect()))
          lt.compileMs += buildS * 1000
          lt.execMs += execS * 1000
          lt.rowsOut += rows.length
          if (r.sampled) Some(rowsOf(rows)) else None
        case u: Update =>
          tr.span("sparql.update")(engine.update(u.text, u.kind))
          val (did, cs) = ctx.timed(tr.span("model.compact_if_needed")(store.compactIfNeeded(g, MaxTailBatches)))
          if (did) {
            lt.compactions += 1
            lt.compactS += cs
            lt.compactBytes += Files.bytes(store.path + "/quads")
          }
          None
      }
    }
    lt.all.add(c)
    if (op.isInstanceOf[Read]) {
      lt.reads.add(c)
      lt.execMs -= c.optimizationMs + c.planningMs
    }
    out
  }

  /** Tracing overhead: the first logged reads again, untraced and traced
    * in alternating order; percent extra time of the traced ones. */
  def overheadPct(tr: Trace): Option[Double] = {
    var plain, traced = 0.0
    log.collect { case (r: Read, _) => r }.take(4).zipWithIndex.foreach { case (r, i) =>
      def bare() = plain += ctx.timed(engine.select(r.text, r.kind).collect())._2
      def withTrace() = traced += ctx.timed(execute(tr, r, new LayerTotals))._2
      if (i % 2 == 0) { bare(); withTrace() } else { withTrace(); bare() }
    }
    if (plain > 0) Some((traced / plain - 1) * 100) else None
  }

  /** Replay the op log on `ref` (which held the same graph when the
    * client started); compare sampled reads and the final graph. */
  def replay(ref: GraphStore): Unit = {
    val refEngine = new GraphEngine(ref)
    var compared, mismatched = 0
    var first = ""
    log.foreach {
      case (r: Read, Some(expected)) =>
        compared += 1
        if (rowsOf(refEngine.select(r.text, r.kind).collect()) != expected) {
          mismatched += 1
          if (first.isEmpty) first = r.text
        }
      case (u: Update, _) => refEngine.update(u.text, u.kind)
      case _ =>
    }
    ctx.result.check("kg serve sampled reads match the replay", compared > 0 && mismatched == 0,
      s"$mismatched of $compared differ $first")
    val a = store.readGraphs(Seq(g))
    val b = ref.readGraphs(Seq(g))
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    ctx.result.check("kg serve final graph matches the replay", diff == 0, s"$diff quads differ")
  }
}

object Serve {
  /** The client's compaction policy: compact once the graph has more
    * than this many uncompacted batches. A cycle's three updates write
    * four batches, so a cycle compacts once. */
  val MaxTailBatches = 3
  private val g = gOrganizations
  private val rdfType = graft.sparql.Algebra.dsl.rdfType

  sealed trait Op { def text: String; def kind: String }
  final case class Read(kind: String, text: String, sampled: Boolean) extends Op
  final case class Update(kind: String, text: String) extends Op

  /** Per-layer sums over the traced operations of a run. */
  final class LayerTotals {
    val all = new Counters
    val reads = new Counters
    var parseMs, compileMs, execMs, compactS, compactBytes = 0.0
    var rowsOut = 0L
    var compactions = 0
  }

  private def rowsOf(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private val updateKinds = Seq("rename", "reassert", "delete_data")
  /** One cycle of the operation stream: 8 reads and one update of each
    * kind. */
  val cycle: Seq[String] = Seq("point", "point", "orid", "orid", "listing", "type_count",
    "contact", "contact") ++ updateKinds

  /** The seeded operation stream: cycles of `cycle`, each in a seeded
    * order, so every whole cycle has the same mix; targets are seeded. */
  private final class Client(seed: Long, copies: Int) {
    private val rnd = new java.util.Random(seed ^ 0x5eed5eedL)
    private var n = 0
    private var reads = 0
    private var pending = List.empty[String]
    private val updated = mutable.ArrayBuffer.empty[String]
    private val words = Seq("Archief", "Museum", "Bibliotheek", "Omroep", "Collectie",
      "Erfgoedcel", "Theater", "Huis")
    private def word = words(rnd.nextInt(words.size))
    private def orids = KgSources.orids(rnd.nextInt(copies))
    private def anyOrid = { val o = orids; o(rnd.nextInt(o.size)) }
    private def tlOrid = orids(3)
    private def iri(orid: String) = s"<$idNs$orid>"

    private def nextKind(): String = {
      if (pending.isEmpty) pending = new scala.util.Random(rnd.nextLong()).shuffle(cycle).toList
      val k = pending.head
      pending = pending.tail
      k
    }

    def next(): Op = {
      n += 1
      val kind = nextKind()
      if (!updateKinds.contains(kind)) {
        reads += 1
        val sampled = reads % 3 == 0
        kind match {
          case "point" =>
            val org =
              if (updated.nonEmpty && rnd.nextBoolean()) updated(rnd.nextInt(updated.size))
              else iri(anyOrid)
            Read(kind, s"SELECT ?p ?o FROM <$g> WHERE { $org ?p ?o }", sampled)
          case "orid" =>
            Read(kind,
              s"""SELECT ?org FROM <$g> WHERE { ?org <${schemaNs}identifier> "$anyOrid" }""",
              sampled)
          case "listing" =>
            Read(kind, s"""SELECT ?org ?name FROM <$g> WHERE {
              ?org <$rdfType> <${orgNs}Organization> ; <${skos}prefLabel> ?name .
              FILTER(STRSTARTS(?name, "$word")) } ORDER BY ?name ?org LIMIT 20""", sampled)
          case "type_count" =>
            Read(kind, s"""SELECT ?t (COUNT(?s) AS ?n) FROM <$g>
              WHERE { ?s <$rdfType> ?t } GROUP BY ?t""", sampled)
          case _ =>
            Read(kind, s"""SELECT ?cp ?email ?tel FROM <$g> WHERE {
              ${iri(tlOrid)} <${schemaNs}contactPoint> ?cp .
              OPTIONAL { ?cp <${schemaNs}email> ?email }
              OPTIONAL { ?cp <${schemaNs}telephone> ?tel } }""", sampled)
        }
      } else {
        val o = kind match {
          case "rename" => tlOrid
          case "reassert" => anyOrid
          case _ => orids(if (rnd.nextBoolean()) 0 else 3)
        }
        updated += iri(o)
        Update(kind, kind match {
          case "rename" => s"""WITH <$g>
            DELETE { ${iri(o)} <${skos}prefLabel> ?old }
            INSERT { ${iri(o)} <${skos}prefLabel> "$word hernoemd $n" }
            WHERE { ${iri(o)} <${skos}prefLabel> ?old }"""
          case "reassert" =>
            s"INSERT DATA { GRAPH <$g> { ${iri(o)} <$rdfType> <${orgNs}Organization> } }"
          case _ => s"DELETE DATA { GRAPH <$g> { ${iri(o)} <${schemaNs}logo> " +
            s"<https://assets.viaa.be/images/$o> } }"
        })
      }
    }
  }
}
