package graft.streaming

import graft.multimodal.MultimodalQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A SCREEN STAGE: one near-dup screen over one [[ScreenStore]] — a key
  * projection of the offers, an in-batch pair kernel (greedy
  * keep-lowest), a store pair kernel through the store's candidate read,
  * and the delta the store grows by once the body has decided which rows
  * it keeps. Every body runs its screens as ONE fold ([[ScreenStage.fold]])
  * and stages their deltas through ONE writer ([[ScreenStage.Writer]]) on
  * the [[CorpusRoot]] spine: [[CurationChain]] folds
  * `Seq(Exact, Perceptual, Sig, Semantic)` (media and semantic when their
  * columns ride), [[TextDedupStream]] `Seq(Sig)` and [[ImageDedupStream]]
  * `Seq(Perceptual)` ([[ScreenStage.standalone]]). A stage takes the
  * surviving offers (id `doc_id`) and returns the survivors with the same
  * columns.
  *
  * Every semi/anti right side a stage derives from the BATCH is
  * batch-bounded and carries an explicit broadcast hint (guide §3.1: the
  * planner cannot size plans over fresh parquet or cached frames). Each
  * executed BroadcastExchange is its own job in every action that runs
  * it, so a batch-side set that several actions read is pinned upstream,
  * or held on the driver and shipped as a broadcast variable. The
  * store-side joins keep their shuffle plans — those sides grow with the
  * corpus.
  *
  * ADAPTIVE EXECUTION differs by body: Spark turns it off in a
  * `foreachBatch` body fed by a stream with a stateful operator (the CDC
  * chain) and leaves it on in one fed by a stream without one or called
  * on a static batch (the standalone specs), where every shuffle and
  * broadcast stage is its own job. The job count of a warm trigger is
  * fixed either way: in event logs of 20 isolated runs each, the
  * standalone text and image warm triggers read 26 and 24 jobs every run.
  */
private[streaming] sealed trait ScreenStage {

  /** The stage's store. */
  def store: ScreenStore

  /** The job label of the screen, under the body's prefix. */
  def label: String

  /** Screen `rows` within the batch and against the store: the survivors
    * and the delta to stage for the rows the body keeps.
    */
  def screen(t: ScreenStage.Trigger, rows: DataFrame): (DataFrame, ScreenStage.Delta)
}

private[streaming] object ScreenStage {

  /** A stage's delta: it submits its staged writes to the writer. */
  type Delta = Writer => Unit

  /** One trigger as the stages see it: its pins, its root and batch, the
    * root's bucket count and the live-row filter ([[CorpusRoot.retire]]),
    * and the job-label prefix of the body (`graft.chain`, `graft.text`,
    * `graft.image`).
    */
  final class Trigger(val pins: CorpusRoot.Pins, val root: String,
      val batchId: Long, P: Int,
      live: Option[(DataFrame, String) => DataFrame], prefix: String) {
    def spark: SparkSession = pins.spark
    def pin(df: DataFrame): DataFrame = pins.pin(df)
    def labeled[T](stage: String)(f: => T): T =
      JobLabel(spark, s"$prefix $stage")(f)
    def view(s: ScreenStore): ScreenStore.View = s.at(spark, root, P, live)
  }

  /** Run `stages` in order over `rows`, each under its label: the rows
    * surviving every stage and the stages' deltas.
    */
  def fold(t: Trigger, stages: Seq[ScreenStage],
      rows: DataFrame): (DataFrame, Seq[Delta]) =
    stages.foldLeft((rows, Vector.empty[Delta])) { case ((in, deltas), s) =>
      val (out, d) = t.labeled(s.label)(s.screen(t, in))
      (out, deltas :+ d)
    }

  /** EXACT screen against the standing content-hash store, bloom front
    * first: batch hashes whose bucket's blobs all miss are DEFINITELY
    * absent (one-sided: the blobs cover every published hash), so
    * typically only true dups + ε·|batch| false positives pull their
    * candidate buckets — the anti-join reads those buckets only. The
    * in-batch screen is the body's first-of-hash.
    */
  object Exact extends ScreenStage {
    val store: ScreenStore = ScreenStore.Exact
    val label = "exact-screen"

    def screen(t: Trigger, rows: DataFrame): (DataFrame, Delta) = {
      val st = t.view(store)
      val out =
        if (!st.present) rows
        else {
          // the front probes through the DRIVER-CACHED blobs (one filter
          // inside the batch plan); the candidate buckets are a
          // driver-side collect bounded by the layout's bucket count
          val maybe = st.probe(st.keyed(rows.select("content_hash").distinct()),
            Seq("content_hash", "pb"))
          // the survivors feed every later stage and the keep checkpoint
          // — pin them, or each re-runs the store read and anti-join
          st.candidates(Seq("content_hash"), maybe)
            .map(s => t.pin(rows.join(s, Seq("content_hash"), "left_anti")))
            .getOrElse(rows)
        }
      (out, w => {
        // the kept keys' hashes collect to the driver (batch-scale — KB
        // of longs per trigger) so the front delta builds and is written
        // there; the same collect brings the kept ids, sorted, for the
        // later stages' deltas
        val front = w.staging("stage-exact-front") {
          val kept = st.keyed(w.keep.select("doc_id", "content_hash"))
            .select("doc_id", "__h", "pb").collect()
          (st.stageFront(kept.map(r => (r.getLong(1), r.getInt(2))), t.batchId),
            kept.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted)
        }
        w.front(store, front.map(_._1)(w.ec))
        w.keptIdsFrom(front.map(_._2)(w.ec))
        w.staging("stage-exact-tail") {
          st.stageDelta(w.keep.select("doc_id", "content_hash")
            .withColumn("b", lit(t.batchId)), t.batchId)
        }
      })
    }
  }

  /** PERCEPTUAL media screen over the `content` bytes: each doc's bytes
    * hash through the ONE modality-dispatching kernel
    * ([[graft.multimodal.MultimodalQueries.perceptualHash]]: image dHash,
    * audio envelope, video temporal-mean dHash), then banded hamming
    * pairs within the batch and against the pre-banded store (hot-bucket
    * cap on the store side, exact bit_count(xor) ≤ 7 verify). Docs whose
    * bytes do not decode pass unscreened and reach no store (decode
    * failure is data, not an error).
    */
  object Perceptual extends ScreenStage {
    val store: ScreenStore = ScreenStore.Phash
    val label = "perceptual-screen"

    def screen(t: Trigger, rows: DataFrame): (DataFrame, Delta) = {
      val st = t.view(store)
      val ph = udf((b: Array[Byte]) =>
        MultimodalQueries.perceptualHash(b))
      // a media batch is small in BYTES but big in compute: spread an
      // under-partitioned one across the executors before the decode
      // kernel (one shuffle of its bytes; getNumPartitions runs no job)
      val media = rows.filter(col("content").isNotNull)
        .select(col("doc_id").as("media_id"), col("content"))
      val par = t.spark.sparkContext.defaultParallelism
      val spread =
        if (media.rdd.getNumPartitions >= par) media
        else media.repartition(par)
      // hash once: the 16-byte/row projection feeds the screen AND the
      // delta (the q226 lesson)
      val h = t.pin(spread
        .select(col("media_id"), ph(col("content")).as("h"))
        .filter(col("h").isNotNull))
      // in-batch screen, then the standing BANDED store pruned to the
      // batch's (band, v) buckets ((band, v) has only 2048 values, so no
      // bloom front: a populated store saturates every key and the
      // pruning itself is what bounds the read)
      val inDrops = MultimodalQueries.hammingNearDupPairs(h)
        .select(col("db").as("media_id")).distinct()
      // the in-batch survivors feed the bucket collect AND the drop
      // decision — pinned, or the band self-join runs once per action
      val surv = t.pin(h.join(broadcast(inDrops), Seq("media_id"), "left_anti"))
      val bandKeys = st.tagged(MultimodalQueries.bandExplode(surv, "new_id")
        .select(col("b").as("band"), col("v")).distinct())
      val okIds = st.candidates(Seq("media_id", "h", "band", "v"), bandKeys)
        .map { s =>
          val dup = ImageDedupStream.hammingPairsAgainstBands(surv, s)
            .select(col("new_id").as("media_id")).distinct()
          surv.join(broadcast(dup), Seq("media_id"), "left_anti")
        }
        .getOrElse(surv)
        .select(col("media_id").as("doc_id"))
      // pin the drop DECISION: re-running the band joins in every later
      // action measured 3× the whole trigger time
      val dropIds = t.pin(h.select(col("media_id").as("doc_id"))
        .join(broadcast(okIds), Seq("doc_id"), "left_anti"))
      (rows.join(broadcast(dropIds), Seq("doc_id"), "left_anti"), w => {
        w.staging("stage-phash-tail") {
          st.stageDelta(MultimodalQueries.bandExplode(
              h.join(broadcast(w.keep.select(col("doc_id").as("media_id"))),
                Seq("media_id"), "left_semi"), "media_id")
            .select(col("media_id"), col("h"), col("b").as("band"), col("v"))
            .withColumn("b", lit(t.batchId)), t.batchId)
        }
      })
    }
  }

  /** NEAR-DUP text screen: k-minima MinHash signatures of `text`, banded
    * within the batch and against the PRE-BANDED store, bucketed by
    * (band, bh) and fronted by its own bloom — a batch band key whose
    * blobs miss has no store partner by construction (only near-dups
    * collide on a band hash), so a novel batch skips the store read and
    * a dup-bearing one reads its candidates' buckets only. Docs too short
    * to shingle carry no signature and are dropped by this screen's
    * survivor join.
    */
  object Sig extends ScreenStage {
    val store: ScreenStore = ScreenStore.Sigs
    val label = "sig-screen"

    def screen(t: Trigger, rows: DataFrame): (DataFrame, Delta) = {
      val st = t.view(store)
      // the most expensive kernel, read by the survivors AND the delta
      val sigs = t.pin(TextDedupStream.signatures(rows))
      val inDrops = TextDedupStream.sigSelfPairs(sigs)
        .select(col("db").as("doc_id")).distinct()
      // the in-batch survivors and the front-filtered band keys each feed
      // the bucket collect AND the survivors' materialization — pinned,
      // or the in-batch pair self-join runs once per action
      val surv = t.pin(sigs.join(broadcast(inDrops), Seq("doc_id"), "left_anti"))
      val screened =
        if (!st.present) surv
        else {
          val maybe = t.pin(st.probe(
            st.keyed(TextDedupStream.bandRows(surv, "new_id")),
            Seq("new_id", "band", "bh")))
          st.candidates(Seq("doc_id", "sig", "band", "bh"), maybe)
            .map { s =>
              val dup = TextDedupStream.sigPairsAgainstBands(maybe, s)
                .select(col("new_id").as("doc_id")).distinct()
              surv.join(broadcast(dup), Seq("doc_id"), "left_anti")
            }
            .getOrElse(surv)
        }
      val kept = t.pin(screened.select("doc_id", "sig"))
      (t.pin(rows.join(broadcast(kept), Seq("doc_id"), "left_semi")), w => {
        // the kept sig rows: the pinned survivors filtered by the kept
        // ids, shipped as a broadcast variable (no checkpoint or
        // broadcast job); both deltas chain on the ids
        val keptBands = w.keptIds.map { ids =>
          val shipped = t.pins.ship(ids)
          val isKept = udf((id: Long) =>
            java.util.Arrays.binarySearch(shipped.value, id) >= 0)
          st.tagged(TextDedupStream.bandRows(
              kept.filter(isKept(col("doc_id"))), "doc_id")
            .withColumn("b", lit(t.batchId)))
        }(w.ec)
        w.after(keptBands, "stage-sigs-tail")(st.stageDelta(_, t.batchId))
        w.front(store, w.after(keptBands, "stage-sig-front")(kb =>
          st.stageFront(st.frontKeys(kb), t.batchId)))
      })
    }
  }

  /** SEMANTIC screen over `embedding` (cosine ≥ `threshold`). Once the
    * `vecs` cell layout has founded (`quant`, under `vec_cells`), batch
    * vectors probe their `nprobe` nearest cells and ONLY those are read:
    * their PQ postings ([[SemDedupStream.screenCoded]]), or the raw cells
    * while the coded postings are not built (correct, just dim·8 bytes
    * per probed row). Before founding it keeps the retrain-per-trigger
    * screen — cheap at that size and the gated batch operator's.
    */
  final case class Semantic(quant: Option[SemDedupStream.Quantizer],
      threshold: Double, nprobe: Int) extends ScreenStage {
    val store: ScreenStore = ScreenStore.Vecs
    val label = "semantic-screen"

    def screen(t: Trigger, rows: DataFrame): (DataFrame, Delta) = {
      val spark = t.spark
      val vecStore = t.view(store)
      val pqStore = t.view(ScreenStore.VecPq)
      val vecs = rows.select(col("doc_id").as("vec_id"), col("embedding"))
      val ok = quant match {
        case Some(q) if q.codebooks.isDefined && pqStore.present =>
          SemDedupStream.screenCoded(t.pins, vecs, q.cents, q.codebooks.get,
            nprobe, threshold,
            postings = cells =>
              pqStore.read(Seq("vec_id", "cell", "codes", "mrg"), Some(cells)),
            vectors = cells =>
              vecStore.read(Seq("vec_id", "embedding"), Some(cells)))
        case Some(q) if vecStore.present =>
          val cents = q.cents
          val surv = SemDedupStream.admitBatch(vecs, spark.emptyDataFrame, threshold)
          val qv = surv.select(col("vec_id"),
              col("embedding").cast("array<double>").as("qv"))
            .withColumn("cell", explode(graft.llm.IvfProbe(col("qv"),
              cents, math.min(nprobe, cents.length))))
          vecStore.candidates(Seq("vec_id", "embedding", "cell"), qv)
            .map { s =>
              val dup = qv.join(s.select(col("cell"),
                    col("vec_id").as("neighbor_id"),
                    col("embedding").cast("array<double>").as("cv")),
                  Seq("cell"))
                .filter(graft.llm.Similarity
                  .cosine(col("qv"), col("cv")) >= threshold)
                .select("vec_id").distinct()
              surv.join(broadcast(dup), Seq("vec_id"), "left_anti")
            }
            .getOrElse(surv)
        case _ => SemDedupStream.admitBatch(vecs,
          vecStore.read(Seq("vec_id", "embedding")).getOrElse(spark.emptyDataFrame),
          threshold)
      }
      (rows.join(broadcast(ok.select(col("vec_id").as("doc_id"))),
          Seq("doc_id"), "left_semi"), w => {
        val keptVecs = w.keep.select(col("doc_id").as("vec_id"), col("embedding"))
          .withColumn("b", lit(t.batchId))
        w.staging("stage-vecs-tail") {
          vecStore.stageDelta(keptVecs.withColumn("cell", quant match {
            case Some(q) => graft.llm.IvfCell(col("embedding").cast("array<double>"),
              q.cents)
            case None => lit(0)
          }), t.batchId)
        }
        // the coded postings delta: the SAME kept rows, frozen-centroid
        // cell + frozen-codebook encode (which clusters its output by
        // cell), through the SAME publish — the postings can never lag
        // the raw store
        quant.filter(_.codebooks.isDefined).foreach { q =>
          w.staging("stage-vecpq-tail") {
            graft.llm.Similarity.encodeIvfCode(keptVecs, q.cents, q.codebooks.get,
                withMargin = true)
              .withColumnRenamed("neighbor_id", "vec_id")
              .write.mode("overwrite")
              .parquet(StoreTxn.stagePath(t.root, t.batchId, "vecpq_tail"))
          }
        }
      })
    }
  }

  /** THE stage writer: the deltas' staged writes and front builds, and the
    * body's own, submitted CONCURRENTLY from a small pool (guide §2.6:
    * overlap independent jobs — a trigger's fixed cost is its action
    * CHAIN). `keep` is the body's checkpointed kept rows, so every write
    * reads only MATERIALIZED rows and the writes are independent. Seal
    * follows only once EVERY write has finished; a failed write fails the
    * trigger BEFORE seal (unsealed residue is discarded and the batch
    * recomputed on replay), but only after the others have drained, so a
    * foreachBatch retry never races a still-writing task.
    */
  final class Writer private (t: Trigger, val keep: DataFrame) {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    private val writes = Vector.newBuilder[Future[Any]]
    private val fronts = Vector.newBuilder[(ScreenStore, Future[Seq[(Int, Array[Byte])]])]
    private var kept: Option[Future[Array[Long]]] = None

    /** Submit one staged write under the job label `stage`. */
    def staging[T](stage: String)(f: => T): Future[T] =
      submitted(Future(t.labeled(stage)(f)))

    /** Submit a staged write that starts once `dep` completes. */
    def after[A, T](dep: Future[A], stage: String)(f: A => T): Future[T] =
      submitted(dep.flatMap(a => Future(t.labeled(stage)(f(a)))))

    private def submitted[T](f: Future[T]): Future[T] = { writes += f; f }

    /** A staged front delta, merged into the driver-cached front once its
      * batch publishes ([[published]]).
      */
    def front(store: ScreenStore, blobs: Future[Seq[(Int, Array[Byte])]]): Unit =
      fronts += store -> blobs

    /** The kept ids, sorted: from a stage's own collect when one brings
      * them ([[keptIdsFrom]]), else one collect of `keep`'s ids.
      */
    def keptIds: Future[Array[Long]] = kept.getOrElse {
      val f = staging("stage-kept-ids") {
        keep.select("doc_id").collect().filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted
      }
      kept = Some(f)
      f
    }

    def keptIdsFrom(ids: Future[Array[Long]]): Unit = kept = Some(ids)

    /** Shut the pool and wait out every write — 30 minutes, stamping
      * stderr every 10 — else the failure to raise: returning would let a
      * retry race the in-flight write in _staged.
      */
    private def drain(): Option[IllegalStateException] = {
      pool.shutdown()
      var drained = pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      var waited = 1
      while (!drained && waited < 3) {
        System.err.println(
          s"[graft] staged-write pool still draining after ${waited * 10} min")
        drained = pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        waited += 1
      }
      if (drained) None
      else Some(new IllegalStateException(
        "staged writes did not drain within 30 minutes; failing the " +
        "trigger so a foreachBatch retry cannot race an in-flight " +
        "write in _staged"))
    }

    private def await(): Unit = {
      val outcomes = Await.result(Future.sequence(
        writes.result().map(_.transform(scala.util.Success(_)))), Duration.Inf)
      outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(e => throw e)
      pendingFronts.put((t.root, t.batchId),
        fronts.result().map { case (s, f) => s -> Await.result(f, Duration.Inf) })
    }
  }

  object Writer {
    /** Stage `keep`'s deltas: `submit` hands every write to the writer,
      * which waits them all out (and drains its pool) before returning.
      */
    def run(t: Trigger, keep: DataFrame)(submit: Writer => Unit): Unit = {
      val w = new Writer(t, keep)
      try { submit(w); w.await() }
      catch {
        // the body's error stays the primary one; a drain failure on top
        // of it rides along as suppressed
        case e: Throwable => w.drain().foreach(e.addSuppressed); throw e
      }
      w.drain().foreach(e => throw e)
    }
  }

  /** Front deltas staged by a [[Writer]], waiting for their publish to
    * land so they can merge into the driver-cached fronts
    * ([[ScreenStore.noteFront]]). A replay that skips staging never
    * creates an entry — the cache then re-reads on its fingerprint
    * mismatch, which is the safe fallback.
    */
  private val pendingFronts = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[(ScreenStore, Seq[(Int, Array[Byte])])]]()

  /** Merge batch `batchId`'s staged fronts once it has published. */
  def published(spark: SparkSession, root: String,
      batchId: Long): Unit =
    Option(pendingFronts.remove((root, batchId))).foreach(_.foreach {
      case (store, blobs) => store.noteFront(spark, root, blobs)
    })

  /** Run `f` over one trigger's view of `root` (whose layout marker
    * guards `stores`) and the live-row filter `retire` builds, releasing
    * every pin and shipped variable when it returns.
    */
  def withTrigger[T](spark: SparkSession, root: String,
      batchId: Long, stores: Seq[String], prefix: String)(
      retire: CorpusRoot.Pins => Option[(DataFrame, String) => DataFrame])(
      f: Trigger => T): T = {
    val P = StoreLayout.ensureLayout(spark, root, stores)
    val pins = new CorpusRoot.Pins(spark)
    try f(new Trigger(pins, root, batchId, P, retire(pins), prefix))
    finally pins.release()
  }

  /** A STANDALONE body: one screen `stage` over `rows` (`doc_id` plus the
    * stage's input column) on the [[CorpusRoot]] spine, its one store
    * under `root` growing by the admitted rows through the same staged
    * publish as the chain's. `compactEvery` > 0 folds the tail into the
    * main and rebuilds the front every that-many triggers (keyed on
    * batchId, so restarts keep the cadence).
    */
  def standalone(root: String, prefix: String, stage: ScreenStage,
      compactEvery: Int)(rows: DataFrame, batchId: Long): Unit = {
    val spark = rows.sparkSession
    CorpusRoot.trigger(spark, root, batchId, stage.store.dirs(root)) {
      stageStandalone(root, prefix, stage, rows, batchId)
    }
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
      JobLabel(spark, s"$prefix compact") {
        stage.store.at(spark, root,
          StoreLayout.ensureLayout(spark, root, Seq(stage.store.name))).compact()
      }
  }

  /** Stage and seal a standalone batch without publishing it — where a
    * crash-replay spec stops.
    */
  def stageBatch(root: String, prefix: String, stage: ScreenStage)(
      rows: DataFrame, batchId: Long): Unit =
    CorpusRoot.staged(rows.sparkSession, root, batchId)(
      stageStandalone(root, prefix, stage, rows, batchId))

  private def stageStandalone(root: String, prefix: String, stage: ScreenStage,
      rows: DataFrame, batchId: Long): Unit =
    withTrigger(rows.sparkSession, root, batchId, Seq(stage.store.name),
        prefix)(_ => None) { t =>
      val (admitted, deltas) = fold(t, Seq(stage), rows)
      // the staged deltas read the kept ids, never the screen plan again
      val keep = t.labeled("admit-checkpoint") {
        admitted.select("doc_id").localCheckpoint()
      }
      Writer.run(t, keep)(w => deltas.foreach(_(w)))
    }
}
