package perfbench

import org.apache.spark.sql.functions.col

import graft.ingest.JsonFlattener
import graft.model.{GraphStore, QuadStore}
import graft.pipeline.Pipeline
import graft.queries.ReferenceMappings
import graft.queries.ReferenceMappings._
import graft.sources.Sources

/** The nightly truncate-and-reload job on the merge-on-write
  * [[GraphStore]]: JSONL extract, flatten, five staging appends, the 16
  * mapping tasks, provenance, drop staging and compact.
  *
  * Correctness (metamorphic, no second engine): no target quad is shared
  * between generated copies and every block of `KgSources.Variants`
  * copies has the same shape, so the target graph must hold exactly
  * `blocks × BlockCounts(p)` quads of each predicate `p`. `BlockCounts`
  * is the target graph of one block as the mappings produce it from the
  * FIXTURES.md shapes; `checkBlock` re-derives it by running the
  * pipeline on one sampled block alone, and requires every quad of that
  * run to be in the full run's target graph.
  */
object Etl {

  private val StartedAt = "2026-01-01T00:00:00"

  private val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val dctNs = "http://purl.org/dc/terms/"
  private val foafNs = "http://xmlns.com/foaf/0.1/"
  private val meemooNs = "https://data.hetarchief.be/ns/organization/"

  /** Target quads per predicate of one block of `KgSources.Variants`
    * copies. */
  val BlockCounts: Map[String, Long] = Map(
    s"${dctNs}description" -> 4L, s"${rdf}type" -> 91L,
    s"${skos}altLabel" -> 8L, s"${skos}prefLabel" -> 11L,
    s"${orgNs}classification" -> 4L, s"${orgNs}hasPrimarySite" -> 15L,
    s"${orgNs}hasSite" -> 15L, s"${orgNs}hasUnit" -> 3L, s"${orgNs}holds" -> 4L,
    s"${orgNs}postIn" -> 4L, s"${orgNs}role" -> 4L, s"${orgNs}siteAddress" -> 10L,
    s"${orgNs}unitOf" -> 3L, s"${foafNs}homepage" -> 3L, s"${mh}label" -> 4L,
    s"${meemooNs}allowsBZT" -> 4L, s"${meemooNs}allowsOverlay" -> 4L,
    s"${meemooNs}hasAccountManager" -> 3L, s"${meemooNs}isAccountManagerOf" -> 3L,
    s"${meemooNs}requestForm" -> 3L, s"${meemooNs}sector" -> 4L,
    s"${schemaNs}addressCountry" -> 10L, s"${schemaNs}addressLocality" -> 10L,
    s"${schemaNs}addressRegion" -> 3L, s"${schemaNs}contactPoint" -> 12L,
    s"${schemaNs}contactType" -> 12L, s"${schemaNs}email" -> 19L,
    s"${schemaNs}familyName" -> 8L, s"${schemaNs}givenName" -> 8L,
    s"${schemaNs}identifier" -> 15L, s"${schemaNs}logo" -> 12L,
    s"${schemaNs}postalCode" -> 10L, s"${schemaNs}streetAddress" -> 10L,
    s"${schemaNs}telephone" -> 12L)

  /** Extract → flatten → staging append, one source at a time. */
  def load(store: QuadStore, src: String): Unit = {
    val spark = store.spark
    import spark.implicits._
    KgSources.files.foreach { case (f, g) =>
      val quads = JsonFlattener.flatten(Sources.jsonLines(spark, s"$src/$f"), "json", g, source)
      store.appendDistinct(quads.toDF(), Some(Seq(g)))
    }
  }

  /** One full pass; returns the wall seconds of each DAG phase. */
  def pass(ctx: Ctx, store: GraphStore, src: String, runId: String): Seq[(String, Double)] = {
    val p = new Pipeline(store)
    def phase(name: String)(f: => Unit) = name -> ctx.timed(f)._2
    val phases = Seq(
      phase("pipeline.clear_s")(p.clearAll()),
      phase("pipeline.load_s")(load(store, src)),
      phase("pipeline.map_s")(p.runMappings()),
      phase("pipeline.provenance_s")(p.addProvenance(runId, StartedAt)),
      phase("pipeline.finish_s")(p.finish()))
    ctx.log(s"pass $runId " + phases.map { case (k, s) => f"$k=$s%.2f" }.mkString(" "))
    phases
  }

  private def predicateCounts(store: QuadStore): Map[String, Long] =
    store.readGraphs(Seq(gOrganizations)).groupBy(col("p")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Per-predicate target counts and the provenance graph of a pass over
    * `copies` copies. */
  def checkCounts(ctx: Ctx, store: GraphStore, copies: Int): Unit = {
    val blocks = copies / KgSources.Variants
    val got = predicateCounts(store)
    val wrong = (BlockCounts.keySet ++ got.keySet).toSeq.sorted.flatMap { p =>
      val expected = blocks * BlockCounts.getOrElse(p, 0L)
      val n = got.getOrElse(p, 0L)
      if (n != expected) Some(s"$p: got $n, expected $expected") else None
    }
    ctx.result.check("kg target quads per predicate = blocks x block counts",
      wrong.isEmpty, wrong.take(5).mkString("; "))
    val prov = store.countGraph(gProvenance)
    ctx.result.check("kg provenance graph has the run's 9 quads", prov == 9, s"got $prov")
  }

  /** The pipeline on one sampled block alone: its target graph must have
    * `BlockCounts` and be contained in the full run's target graph. */
  def checkBlock(ctx: Ctx, store: GraphStore, copies: Int): Unit = {
    val k = KgSources.Variants
    val b = new java.util.Random(ctx.seed).nextInt(copies / k)
    val src = ctx.dir("block-src")
    KgSources.write(src, ctx.seed, b * k until (b + 1) * k)
    val st = new GraphStore(ctx.spark, ctx.dir("block-store"))
    pass(ctx, st, src, "block")
    val got = predicateCounts(st)
    ctx.result.check("kg block run target quads per predicate = block counts",
      got == BlockCounts, (got.toSet diff BlockCounts.toSet).take(5).mkString("; "))
    val missing = st.readGraphs(Seq(gOrganizations))
      .exceptAll(store.readGraphs(Seq(gOrganizations))).count()
    ctx.result.check("kg block run quads all present in the full run", missing == 0,
      s"$missing missing")
  }

  /** The traced pass: every step materialized on its own and the
    * mappings run one at a time through `runMappings(Seq(q))`, so each
    * step's Spark work is attributable. `pipeline.map_s` is then the sum
    * of the sequential mapping tasks, not the parallel map phase of an
    * untraced pass. */
  def stepByStep(ctx: Ctx, store: GraphStore, src: String, records: Long, tr: Trace): Unit = {
    val res = ctx.result
    val p = new Pipeline(store)
    def phase(name: String)(f: => Unit): Unit =
      res.metric(name, ctx.timed(tr.span(name)(f))._2, "s")
    phase("model.clear_s")(p.clearAll())
    var readS, flattenS, appendS = 0.0
    var recs, quadsOut = 0L
    phase("pipeline.load_s")(KgSources.files.foreach { case (f, g) =>
      val (raw, rs) = ctx.timed(tr.span(s"sources.read.$f") {
        val df = Sources.jsonLines(ctx.spark, s"$src/$f").localCheckpoint()
        recs += df.count(); df
      })
      val (quads, fs) = ctx.timed(tr.span(s"ingest.flatten.$f") {
        val q = JsonFlattener.flatten(raw, "json", g, source).toDF().localCheckpoint()
        quadsOut += q.count(); q
      })
      appendS += ctx.timed(tr.span(s"model.append.$f")(store.appendDistinct(quads, Some(Seq(g)))))._2
      readS += rs; flattenS += fs
    })
    res.metric("sources.read_s", readS, "s")
    res.metric("sources.records", recs.toDouble, "count")
    res.metric("ingest.flatten_s", flattenS, "s")
    res.metric("ingest.quads_out", quadsOut.toDouble, "count")
    res.metric("model.append_s", appendS, "s")
    res.metric("model.append_bytes_written", Files.bytes(store.path), "bytes")
    res.check("kg source records read", recs == records, s"$recs vs $records")

    var jobs = 0L
    phase("pipeline.map_s")(ReferenceMappings.all.foreach { q =>
      val (s, c) = tr.op(s"pipeline.map.${q.name}")(ctx.timed(p.runMappings(Seq(q)))._2)
      res.metric(s"pipeline.map.${q.name}_s", s, "s")
      res.metric(s"pipeline.map.${q.name}.shuffle_bytes", c.shuffleBytes.toDouble, "bytes")
      jobs += c.jobs
    })
    res.metric("pipeline.map.jobs", jobs.toDouble, "count")
    phase("pipeline.provenance_s")(p.addProvenance(s"run-${ctx.seed}", StartedAt))
    phase("pipeline.finish_s")(p.finish())
  }
}

object Files {
  /** Bytes of every regular file under `path` (0 when absent). */
  def bytes(path: String): Double = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0.0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum().toDouble
      finally s.close()
    }
  }
}

object Sparql {
  /** The `sparql.*` layer metrics: per-operation means over `n` SPARQL
    * operations whose Spark counters are summed in `c`. */
  def report(res: Result, c: Counters, n: Int, parseMs: Double, compileMs: Double,
      execMs: Double): Unit = {
    val d = math.max(1, n).toDouble
    res.metric("sparql.parse_ms", parseMs, "ms")
    res.metric("sparql.compile_ms", compileMs, "ms")
    res.metric("sparql.analysis_ms", c.analysisMs / d, "ms")
    res.metric("sparql.optimization_ms", c.optimizationMs / d, "ms")
    res.metric("sparql.planning_ms", c.planningMs / d, "ms")
    res.metric("sparql.exec_ms", execMs, "ms")
    res.metric("sparql.jobs", c.jobs / d, "count")
    res.metric("sparql.tasks", c.tasks / d, "count")
    res.metric("sparql.shuffle_read_bytes", c.shuffleReadBytes / d, "bytes")
    res.metric("sparql.shuffle_write_bytes", c.shuffleWriteBytes / d, "bytes")
    res.metric("sparql.spill_bytes", c.spillBytes / d, "bytes")
  }
}
