package perfbench

import graft.model.{DictMorStore, GraphStore}
import graft.queries.ReferenceMappings.gOrganizations

/** `kg`: the nightly ETL job (see [[Etl]]) over `Copies` generated
  * copies of the fixture organisations.
  *
  * Set-up is `SetupRounds` rounds, each writing the extract and loading
  * it (extract, flatten, five staging appends) into a scratch store;
  * `setup_s` is their median. The first round is the session's first
  * engine work, so code generation and class loading of the load path
  * happen there; the mapping tasks of the measured pass still run for
  * the first time in the session, as in the nightly job.
  * `batch_items_per_s` and `batch_items_per_cpu_s` are source records
  * per second of the whole pass (see [[Ctx.reportBatch]]).
  *
  * The traced run makes its pass the step-by-step pass of
  * [[Etl.stepByStep]], then loads the target graph into the dictionary
  * merge-on-read store and serves a closed-loop SPARQL client on it for
  * at least `--seconds` (see [[Serve]]), for the `sparql.*`, `model.*`
  * and `serve.*` layers. A fresh session's client runs a dozen
  * operations in the run budget, and their latencies vary by a third
  * from run to run, so they are per-layer numbers, not end-to-end ones.
  */
object KgWorkload {

  val Copies = 200
  val SetupRounds = 7

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val spark = ctx.spark
    val rounds = (1 to SetupRounds).map { r =>
      ctx.timed {
        val src = ctx.dir(s"src-$r")
        val n = KgSources.write(src, ctx.seed, 0 until Copies)
        Etl.load(new GraphStore(spark, ctx.dir(s"setup-store-$r")), src)
        (src, n)
      }
    }
    ctx.reportSetup(rounds.map(_._2))
    val (src, records) = rounds.last._1
    res.env("kg_copies") = Copies
    res.env("kg_source_records") = records

    val store = new GraphStore(spark, ctx.dir("store"))

    if (!ctx.traced) {
      val w = new Window
      ctx.attempt("etl pass")(Etl.pass(ctx, store, src, s"run-${ctx.seed}"))
        .foreach(_ => ctx.reportBatch(records, w.close()))
      Etl.checkCounts(ctx, store, Copies)
    } else traced(ctx, store, src, records)
  }

  private def traced(ctx: Ctx, store: GraphStore, src: String, records: Long): Unit = {
    val res = ctx.result
    val spark = ctx.spark
    var dictPath: Option[String] = None
    val tr = new Trace(spark, true, () => dictPath)
    val gc0 = Trace.gcMs()
    val cg0 = Trace.codegenCompiles()

    ctx.attempt("etl pass")(Etl.stepByStep(ctx, store, src, records, tr))
    Etl.checkCounts(ctx, store, Copies)
    res.metric("model.graphstore_bytes_per_quad",
      Files.bytes(store.path) / math.max(1L, store.read().count()), "bytes")

    // the served store receives the target graph as one uncompacted append
    val served = new DictMorStore(spark, ctx.dir("serve"))
    served.appendDistinct(store.readGraphs(Seq(gOrganizations)), Some(Seq(gOrganizations)))
    dictPath = Some(served.path + "/dict")
    val serve = new Serve(ctx, served, Copies)
    val lt = new Serve.LayerTotals
    val dict0 = served.readDict().count()
    val elapsed = serve.loop(ctx.seconds, tr, lt)
    res.env("serve_reads") = serve.reads.size
    res.env("serve_updates") = serve.updates.size

    val reads = serve.reads.toSeq
    val ops = reads ++ serve.updates
    res.metric("serve.ops_per_s", ops.size / elapsed, "1/s")
    res.metric("serve.read_p50_ms", Stats.median(reads) * 1000, "ms")
    res.metric("serve.read_p90_ms", Stats.quantile(reads, 0.9) * 1000, "ms")
    res.metric("serve.update_p50_ms", Stats.median(serve.updates.toSeq) * 1000, "ms")
    val nReads = math.max(1, reads.size)
    Sparql.report(res, lt.all, ops.size, parseMs = lt.parseMs / math.max(1, ops.size),
      compileMs = lt.compileMs / nReads, execMs = math.max(0.0, lt.execMs / nReads))
    res.metric("sparql.rows_examined_per_row",
      lt.reads.rowsScanned.toDouble / math.max(1L, lt.rowsOut), "ratio")
    res.metric("model.files_scanned_per_read", lt.reads.filesScanned.toDouble / nReads, "count")
    res.metric("model.dict_scans", lt.all.dictScans.toDouble, "count")
    res.metric("model.dict_terms_added", (served.readDict().count() - dict0).toDouble, "count")
    res.metric("model.compactions", lt.compactions.toDouble, "count")
    res.metric("model.compact_s", lt.compactS, "s")
    res.metric("model.compact_bytes_rewritten", lt.compactBytes, "bytes")
    res.metric("model.store_bytes_per_quad",
      Files.bytes(served.path) / math.max(1L, served.countGraph(gOrganizations)), "bytes")
    res.metric("spark.cache_resident_mb", Trace.cacheResidentMb(spark), "MiB")
    res.metric("spark.gc_ms", (Trace.gcMs() - gc0).toDouble, "ms")
    res.metric("spark.codegen_compiles", (Trace.codegenCompiles() - cg0).toDouble, "count")
    serve.overheadPct(tr).foreach(res.metric("trace.overhead_pct", _, "%"))
    tr.close()
    tr.writeSpans(new java.io.File(ctx.work, "spans.jsonl").getPath)

    // a pipeline run on one sampled block must reproduce the block
    // counts, and its quads must be in the full run's target graph;
    // then the client's op log is replayed on the target graph
    Etl.checkBlock(ctx, store, Copies)
    serve.replay(store)
  }
}
