package graftbench

import scala.collection.mutable

import graft.operators.Knn.SearchRequest
import graft.store.VectorStore

/** `serve`: a read-only mix against a store built during set-up. The
  * store's read path and its four persisted ANN tiers do all the work;
  * there are no writes and no WAL delta after set-up, so a write-path
  * change predicts no movement here.
  */
object Serve {
  val Keys = 4000
  val Dim = 128
  val Clusters = 16
  val DeletedShare = 0.05
  val TopK = 10
  /** PQ sub-spaces of 64 dims: training runs one k-means per sub-space,
    * and the default 8 alone would take ~20 s of every run's set-up.
    */
  val PqSubspaces = 2

  /** One pass of the closed loop: a fixed list with every ANN tier once, so
    * every pass makes the same mix of calls; the seed picks keys, query
    * vectors and filters.
    */
  val Pass = Seq("get", "search", "nsw", "get", "searchFiltered", "ivf",
    "get", "search", "pq", "get", "searchFiltered", "bq")

  def run(ctx: Ctx): Result = {
    val r = new Result
    val corpus = new Corpus(ctx.seed, Dim, Clusters)
    val rnd = corpus.rnd
    val model = new StoreModel
    val keys = (0 until Keys).map(i => f"k$i%06d")
    val rows = keys.map(k => k -> Rec(corpus.vector(), corpus.cat(), model.tick()))
    rows.foreach { case (k, x) => model.put(k, x) }
    val doomed = scala.util.Random.javaRandomToRandom(rnd).shuffle(keys)
      .take((Keys * DeletedShare).toInt)
    val deleteTs = model.tick()
    doomed.foreach(model.delete)

    val outcomes = new Outcomes
    val setupSamples = new Samples
    val dir = ctx.work.resolve("serve_store")
    Dirs.deleteTree(dir)
    val s0 = System.nanoTime()
    val setup = new StoreClient(ctx.spark, new VectorStore(ctx.spark, dir.toString, Dim),
      ctx.trace, setupSamples, outcomes)
    val store = setup.store
    setup.put(rows).foreach { case (ok, bad) =>
      outcomes.check(ok == rows.length && bad == 0, s"put acknowledged $ok of ${rows.length}")
    }
    setup.delete(doomed, deleteTs)
    setup.timed("compact")(store.compact())
    setup.timed("buildNswIndex")(store.buildNswIndex())
    setup.timed("buildIvfIndex")(store.buildIvfIndex())
    setup.timed("buildPqIndex")(store.buildPqIndex(numSub = PqSubspaces))
    setup.timed("buildBqIndex")(store.buildBqIndex())
    r.notes += f"store build ${(System.nanoTime() - s0) / 1e9}%.2f s; set-up calls (ms): " + setupSamples.kinds.map(k =>
      f"$k=${Stats.median(setupSamples.of(k))}%.0f").mkString(" ")

    val zipf = new Zipf(Keys, 1.1, rnd)
    val rankToKey = scala.util.Random.javaRandomToRandom(rnd).shuffle(keys)
    val doomedSeq = doomed.toIndexedSeq
    var gets = 0
    def nextGetKey(): String = {
      gets += 1
      if (gets % 3 == 0) doomedSeq(rnd.nextInt(doomedSeq.length)) else rankToKey(zipf.next())
    }

    // results are checked after the timed loop, against the model
    val checks = mutable.ArrayBuffer[() => Unit]()
    val recalls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def call(client: StoreClient, kind: String): Unit = kind match {
      case "get" =>
        val k = nextGetKey()
        client.get(k).foreach(g => checks += (() =>
          outcomes.check(StoreChecks.get(g, k, model), s"get $k")))
      case "search" | "searchFiltered" =>
        val q = corpus.vector()
        val cat = if (kind == "searchFiltered") Some(corpus.cat()) else None
        client.search(SearchRequest(q, TopK, cat.map("cat" -> _).toMap)).foreach(g =>
          checks += (() => outcomes.check(StoreChecks.exact(g, model.topK(q, TopK, cat)),
            s"search ${cat.getOrElse("")} differs from brute force")))
      case tier =>
        val q = corpus.vector()
        client.ann(tier, SearchRequest(q, TopK)).foreach(g => checks += { () =>
          outcomes.check(StoreChecks.annLive(g, model, q), s"$tier served a dead or stale key")
          recalls.getOrElseUpdate(tier, mutable.ArrayBuffer()) +=
            StoreChecks.recall(g, model.topK(q, TopK, None))
        })
    }

    // warm-up: every call kind and every tier once, outside the timed loop
    ctx.trace.phase = "warmup"
    val warm = new StoreClient(ctx.spark, store, ctx.trace, new Samples, outcomes)
    val w0 = System.nanoTime()
    Pass.distinct.foreach(call(warm, _))
    r.layer("core.warmup_s") = (System.nanoTime() - w0) / 1e9

    val samples = new Samples
    val client = new StoreClient(ctx.spark, store, ctx.trace, samples, outcomes)
    val loop = Loop.run(ctx, Pass.map(k => () => call(client, k)), samples)
    r.loopStartMs = loop.startMs

    checks.foreach(_())
    Metrics.loopFigures(r, samples, loop)
    StoreChecks.Tiers.foreach { t =>
      r.layer(s"store.$t.recall_at_10") = recalls.get(t).map(x => x.sum / x.length).getOrElse(0.0)
    }
    r.notes += "recall@10 " + StoreChecks.Tiers.map(t => f"$t=${r.layer(s"store.$t.recall_at_10")}%.3f").mkString(" ")
    ctx.trace.drain()
    Metrics.storeCalls(r, ctx.trace)
    Metrics.storeWrites(r, ctx.trace)
    Metrics.storage(r, dir, model.userBytes)
    Metrics.overhead(r, samples)
    r.attempted = outcomes.attempted
    r.failed = outcomes.failed
    outcomes.failures.foreach(f => r.notes += s"FAILED: $f")
    r
  }
}
