package perfbench

import graft.SparkEntry

/** `curation`: a fresh session runs one pass of nine dedup / ANN /
  * retrieval operators from `SparkEntry.queries` over a freshly
  * generated corpus (see [[Corpus]]), each run as the engine's
  * verification main runs it: the query's frame written to parquet.
  *
  * The pass reads a directory nothing read before it, so every
  * `(session, directory)` memo of the engine is built, never served:
  * this is the cold pass of a curation session. The traced run
  * then repeats the pass on the same directory to time the memo-served
  * (warm) pass beside it. Between passes on new directories the
  * benchmark drops the memos through the modules' public `clearCaches`.
  *
  * Set-up is `SetupRounds` rounds, each generating a corpus and running
  * the pass's first operator on it; `setup_s` is their median. The pass
  * then reads a corpus of its own, after the memos are dropped.
  *
  * End to end: `batch_items_per_s` and `batch_items_per_cpu_s` are
  * corpus documents per second of the pass (see [[Ctx.reportBatch]]).
  *
  * Correctness: every output, the memo-served pass's too, is left on
  * disk with its oracle SQL from `SparkEntry.oracleSql`, and the runner
  * compares them in DuckDB.
  */
object CurationWorkload {

  val Docs = 500
  val Vectors = 200
  val SetupRounds = 7
  val Ops = Seq("dedup_exact", "dedup_minhash_lsh", "dedup_jaccard_prefix", "dedup_simhash",
    "dedup_clusters", "ann_ivfpq_persisted", "ann_index_delete", "embed_hard_negatives",
    "retrieval_hybrid_rrf")
  /** Operators whose contract is recall, not the exact oracle row set:
    * MinHash-LSH candidates are probabilistic, and every row it does
    * emit must be an oracle row. */
  val RecallOps = Map("dedup_minhash_lsh" -> 0.95)

  def clearMemos(ctx: Ctx): Unit = {
    graft.ops.Dedup.clearCaches()
    graft.ops.Similarity.clearCaches()
    graft.ops.SemanticOps.clearCaches()
    graft.ops.Retrieval.clearCaches()
    graft.ops.Classify.clearCaches()
    graft.model.TermDictionary.clearCaches()
    graft.model.DictBackend.clearCaches()
    ctx.spark.catalog.clearCache()
  }

  private lazy val queries = SparkEntry.queries

  /** Run the nine operators on `corpus`; (name, seconds, counters). */
  def pass(ctx: Ctx, corpus: String, out: String, tr: Trace): Seq[(String, Double, Counters)] =
    Ops.map { name =>
      val f = queries(name)
      val ((_, s), c) = tr.op(s"ops.$name")(ctx.timed(ctx.attempt(name) {
        f(ctx.spark, corpus).write.parquet(s"$out/$name")
      }))
      ctx.log(f"op $name $s%.2f s")
      (name, s, c)
    }

  private def leaveForOracle(ctx: Ctx, corpus: String, out: String): Unit = {
    val sql = SparkEntry.oracleSql
    Ops.foreach { name =>
      ctx.result.oracle += Map("name" -> name, "corpus" -> corpus, "output" -> s"$out/$name",
        "sql" -> sql(name), "min_recall" -> RecallOps.getOrElse(name, 1.0))
    }
  }

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    var corpora = 0
    def corpus(seed: Long): (String, Corpus.Stats) = {
      corpora += 1
      val d = ctx.dir(s"corpus-$corpora")
      (d, Corpus.write(ctx.spark, d, seed, Docs, Vectors))
    }
    // set-up: corpus generation and the first operator on it, repeated
    // (median reported); the pass reads a corpus of its own
    val rounds = (1 to SetupRounds).map { r =>
      ctx.timed {
        val (d, _) = corpus(ctx.seed * 7919 + r)
        queries(Ops.head)(ctx.spark, d).write.parquet(ctx.dir("out-setup") + s"/$r")
      }._2
    }
    ctx.reportSetup(rounds)
    clearMemos(ctx)
    val (dir, st) = corpus(ctx.seed * 7919)
    res.env("curation_docs") = st.docs
    res.env("curation_vectors") = st.vectors
    res.env("curation_families") = st.families
    res.env("curation_longest_chain") = st.longestChain

    val tr = new Trace(ctx.spark, ctx.traced, () => None)
    val gc0 = Trace.gcMs()
    val cg0 = Trace.codegenCompiles()
    val out = ctx.dir("out")
    val w = new Window
    val ops = pass(ctx, dir, out, tr)
    ctx.reportBatch(st.docs, w.close())
    val passS = ops.map(_._2).sum
    leaveForOracle(ctx, dir, out)

    if (ctx.traced) {
      ops.foreach { case (name, secs, c) =>
        res.metric(s"ops.${name}_s", secs, "s")
        res.metric(s"ops.$name.shuffle_bytes", c.shuffleBytes.toDouble, "bytes")
      }
      res.metric("ops.pass_cold_s", passS, "s")
      // memo-served pass: the same directory again, memos kept
      val memoOut = ctx.dir("out-memo")
      res.metric("ops.pass_warm_s", pass(ctx, dir, memoOut, tr).map(_._2).sum, "s")
      leaveForOracle(ctx, dir, memoOut)
      res.metric("spark.cache_resident_mb", Trace.cacheResidentMb(ctx.spark), "MiB")
      res.metric("spark.gc_ms", (Trace.gcMs() - gc0).toDouble, "ms")
      res.metric("spark.codegen_compiles", (Trace.codegenCompiles() - cg0).toDouble, "count")
      clearMemos(ctx)
      overhead(ctx, tr, corpus).foreach(res.metric("trace.overhead_pct", _, "%"))
      tr.close()
      tr.writeSpans(new java.io.File(ctx.work, "spans.jsonl").getPath)
    }
  }

  /** Tracing overhead on the two lightest dedup operators: fresh copies
    * of one corpus, run once to settle, then untraced, traced, traced,
    * untraced. */
  private def overhead(ctx: Ctx, tr: Trace, corpus: Long => (String, Corpus.Stats)): Option[Double] = {
    val probe = Seq("dedup_exact", "dedup_simhash")
    val off = new Trace(ctx.spark, false, () => None)
    val times = Seq(off, off, tr, tr, off).zipWithIndex.map { case (t, i) =>
      val (d, _) = corpus(ctx.seed * 31 + 1)
      val s = probe.map { name =>
        t.op(s"probe.$name")(ctx.timed(queries(name)(ctx.spark, d)
          .write.parquet(ctx.dir(s"out-probe-$i") + s"/$name"))._2)._1
      }.sum
      clearMemos(ctx)
      (t.enabled, s)
    }.drop(1)
    val plain = times.filterNot(_._1).map(_._2).sum
    if (plain > 0) Some((times.filter(_._1).map(_._2).sum / plain - 1) * 100) else None
  }
}
