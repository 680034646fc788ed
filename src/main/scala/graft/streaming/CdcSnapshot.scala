package graft.streaming

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.cdc.{CdcMerge, Envelope, Instance, Routing}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.charset.StandardCharsets

/** Versioned-manifest view of a bucketed snapshot directory.
  *
  * `buckets` maps pk-hash bucket id → data directory *relative to the
  * snapshot root*; untouched buckets keep pointing at the directory a
  * previous merge wrote, so an incremental merge republishes them for free.
  */
private[streaming] final case class SnapshotManifest(
    version: Long, numBuckets: Int, buckets: Map[String, String],
    schemaJson: String = null, pkCols: Seq[String] = null)

/** Snapshot lifecycle knobs.
  *
  * @param generations    how many published manifest generations stay fully
  *                       readable (Delta-style retention; minimum 2 so a
  *                       reader that resolved the previous manifest right
  *                       before a publish never loses its files)
  * @param minAgeMs       a manifest younger than this is never GC'd even
  *                       when `generations` would drop it — protects
  *                       long-running scans at streaming cadence
  * @param autoCompactEvery fold a full rewrite into every Nth merge (0 =
  *                       off): all buckets are rewritten into that merge's
  *                       single generation directory, bounding how many
  *                       historical directories a read must list
  */
final case class Retention(
    generations: Int = 2, minAgeMs: Long = 0L, autoCompactEvery: Int = 0) {
  require(generations >= 2,
    "retention must keep >= 2 generations: a reader that resolved the previous " +
      "manifest just before publish still holds references into it")
}

/** Incremental CDC latest-image materialization: a Structured Streaming
  * sink that folds each micro-batch of change rows into a parquet snapshot
  * — the reference's end-to-end dataflow (binlog → Canal topic → consumer
  * merge, `/root/reference/src/executor.rs:501-616`) collapsed to one
  * streaming query.
  *
  * Scale design — the snapshot is **pk-hash-bucket partitioned** and only
  * buckets actually present in the micro-batch are re-merged and
  * re-written; at 100 TB a micro-batch touches a bounded set of buckets,
  * so merge cost is O(touched-bucket bytes + batch), never a full-table
  * rewrite. Publication is a **versioned manifest**: each merge writes its
  * new bucket directories, then atomically creates `manifest-{v}.json`
  * naming the data directory of *every* bucket (touched buckets → the new
  * directories, untouched → their existing ones). Readers resolve the
  * highest-numbered manifest, so there is no instant at which the snapshot
  * is missing or mixed — the old manifest stays valid until the new one
  * exists (create-and-close is atomic visibility on HDFS-like stores).
  * The previous manifest's directories are retained one generation for
  * in-flight readers and garbage-collected after the next publish.
  *
  * Crash safety: a writer dying mid-merge leaves at worst an orphan
  * staging directory that the replayed batch overwrites; the manifest it
  * never published keeps readers on the previous version. Replaying a
  * micro-batch is idempotent — merging the same changes twice yields the
  * same per-pk latest image.
  */
object CdcSnapshot {

  // Ignore unknown manifest fields so future additions stay rolling-upgrade
  // safe (an old reader must not choke on a newer writer's manifest).
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
  private val ManifestRe = """manifest-(\d+)\.json""".r

  private def schemaOf(m: SnapshotManifest): Option[StructType] =
    Option(m.schemaJson).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])

  /** Bucket of a pk: deterministic content hash, stable across batches. */
  private def bucketCol(pkCols: Seq[String], n: Int) =
    pmod(xxhash64(pkCols.map(col): _*), lit(n.toLong)).cast("int")

  private def loadManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: Path): SnapshotManifest = {
    val in = fs.open(path)
    val bytes = try in.readAllBytes() finally in.close()
    mapper.readValue(new String(bytes, StandardCharsets.UTF_8),
      classOf[SnapshotManifest])
  }

  private[streaming] def latestManifest(spark: SparkSession, snapshotDir: String)
      : Option[SnapshotManifest] = {
    val root = new Path(snapshotDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val versions = fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) => Some(v.toLong)
        case _ => None
      }
    }
    if (versions.isEmpty) None
    else Some(loadManifest(fs, new Path(root, s"manifest-${versions.max}.json")))
  }

  private def readManifest(spark: SparkSession, snapshotDir: String,
      m: SnapshotManifest): DataFrame = {
    if (m.buckets.isEmpty) {
      // a fully-deleted snapshot is a valid state: empty frame, recorded schema
      require(m.schemaJson != null, s"version ${m.version}: empty with no schema")
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(m).get)
    }
    readBuckets(spark, m, m.buckets.values.toSeq.sorted.map(rel => s"$snapshotDir/$rel"))
  }

  /** Bucket directories of `m` under the snapshot's union schema: buckets
    * written before a schema-widening change are narrower than later
    * ones, and the union nulls the gap. The manifest records that union,
    * so no footer job infers it; only a manifest written before the
    * schema was recorded falls back to `mergeSchema`.
    */
  private def readBuckets(spark: SparkSession, m: SnapshotManifest,
      dirs: Seq[String]): DataFrame = schemaOf(m) match {
    case Some(s) => spark.read.schema(s).parquet(dirs: _*)
    case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Current snapshot as a DataFrame: resolve the newest manifest, read its
    * bucket directories. The public read path — never reads staging dirs.
    *
    * READER-LIFETIME CONTRACT: the returned DataFrame is lazy — it reads
    * bucket files at action time, and those files stay on disk only while
    * the resolved manifest is retained ([[Retention]]: `generations`
    * publishes, or `minAgeMs`, whichever is longer). A scan that outlives
    * the retention window fails with FileNotFoundException; size the
    * retention to your slowest reader.
    */
  def read(spark: SparkSession, snapshotDir: String): DataFrame =
    latestManifest(spark, snapshotDir) match {
      case Some(m) => readManifest(spark, snapshotDir, m)
      case None =>
        throw new IllegalStateException(s"no published snapshot under $snapshotDir")
    }

  /** Time-travel read of a retained version (the GC keeps the newest
    * [[Retention.generations]] manifests, plus anything younger than
    * `minAgeMs`; older versions raise). Versioned manifests make this free
    * — the Delta-style `versionAsOf` for a Delta-less store. The
    * reader-lifetime contract on [[read]] applies here too.
    */
  def readVersion(spark: SparkSession, snapshotDir: String, version: Long): DataFrame = {
    val root = new Path(snapshotDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(root, s"manifest-$version.json")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"snapshot version $version not retained under $snapshotDir")
    readManifest(spark, snapshotDir, loadManifest(fs, p))
  }

  /** Merge `batch` into the bucketed snapshot at `snapshotDir`. Batch rows
    * must carry the pk columns, `ordCol`, and a `type` column with
    * INSERT/UPDATE/DELETE. `numBuckets` only applies to the first merge;
    * later merges reuse the bucket count recorded in the manifest (a
    * changed bucketing would silently split pks across buckets).
    */
  def mergeBatch(batch0: DataFrame, pkCols: Seq[String], ordCol: String,
      snapshotDir: String, numBuckets: Int = 16,
      retention: Retention = Retention()): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    // This merge runs TWO actions over the batch (the touched-bucket
    // collect, then the staging write). Inside foreachBatch each action
    // RE-EXECUTES the micro-batch plan from the sources — including any
    // upstream stateful operators, whose state-store updates would then
    // apply twice per trigger (the ingest soak measured dedup state
    // growing 2× per batch). Persisting pins the batch to one execution;
    // it is micro-batch-sized by definition.
    val batch = batch0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeBatchPersisted(batch, pkCols, ordCol, snapshotDir, numBuckets,
      retention)
    finally batch.unpersist()
  }

  private def mergeBatchPersisted(batch: DataFrame, pkCols: Seq[String],
      ordCol: String, snapshotDir: String, numBuckets: Int,
      retention: Retention): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(snapshotDir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)

    val prev = latestManifest(spark, snapshotDir)
    val n = prev.map(_.numBuckets).getOrElse(numBuckets)
    val version = prev.map(_.version + 1).getOrElse(1L)
    val recorded: Option[StructType] = prev.flatMap(schemaOf)
    recorded.foreach(requireSameTypes(spark, _, batch))

    // Bucket ids present in the batch: the collect returns at most `n` ints
    // per partition (metadata, not data), and a per-partition set keeps it
    // to one stage (no distinct shuffle).
    val batchTouched = batch.select(bucketCol(pkCols, n)).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.sorted
    if (batchTouched.isEmpty) return
    // Auto-compaction: every Nth version rewrites EVERY bucket into this
    // merge's generation directory, so reads stop listing old generations.
    val compacting = retention.autoCompactEvery > 0 &&
      version % retention.autoCompactEvery == 0
    val touched: Array[Int] =
      if (compacting)
        (batchTouched ++ prev.map(_.buckets.keys.map(_.toInt)).getOrElse(Nil)).distinct.sorted
      else batchTouched

    val prevBuckets: Map[String, String] = prev.map(_.buckets).getOrElse(Map.empty)
    val touchedPrevDirs = touched.flatMap(b => prevBuckets.get(b.toString))
      .map(rel => s"$snapshotDir/$rel")
    // When no previous bucket files exist for the touched set, seed with
    // the manifest's RECORDED schema (not the batch's): a batch narrower
    // than the snapshot must not narrow the snapshot (e.g. the first merge
    // after a full deletion).
    val prevRows = if (touchedPrevDirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        recorded.getOrElse(batch.schema))
    else readBuckets(spark, prev.get, touchedPrevDirs.toIndexedSeq)

    // Merge only the touched buckets' rows with the batch; one shuffle on
    // the bucket, partition-pruned writes. DELETE tombstones drop the pk.
    // The bucket is a function of the pk, so the latest-image window keyed
    // on (bucket, pk) keeps the same rows, and the bucket partitioning
    // already satisfies its clustering: no second exchange on the pk.
    // allowMissingColumns = schema evolution: a batch that gains a column
    // (post-DDL) widens touched buckets, with nulls for pre-DDL rows;
    // untouched buckets widen lazily when their next change arrives
    // (readers union by name over mixed-width buckets the same way).
    val merged = CdcMerge.latestImage(
      prevRows.unionByName(batch, allowMissingColumns = true)
        .withColumn("__bucket", bucketCol(pkCols, n))
        .repartition(col("__bucket")),
      "__bucket" +: pkCols, ordCol)
    val stageRel = s"data-v$version"
    merged.write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$snapshotDir/$stageRel")

    // A touched bucket can end up empty (every pk deleted): partitionBy
    // writes no directory for it, and it must leave the manifest too.
    val written = touched.filter(b =>
      fs.exists(new Path(root, s"$stageRel/__bucket=$b"))).toSet
    val newBuckets = (prevBuckets -- touched.map(_.toString)) ++
      written.map(b => b.toString -> s"$stageRel/__bucket=$b")

    // The recorded schema only ever widens: union of everything recorded
    // before with this merge's columns, so a merge over a subset of
    // buckets (or a narrow batch) can never drop a column other buckets
    // still carry.
    val mergedSchema = StructType(merged.schema.filterNot(_.name == "__bucket"))
    val fullSchema = recorded match {
      case Some(r) => StructType(
        r.fields ++ mergedSchema.fields.filterNot(f => r.fieldNames.contains(f.name)))
      case None => mergedSchema
    }
    publish(fs, root,
      SnapshotManifest(version, n, newBuckets, fullSchema.json, pkCols))
    gc(spark, snapshotDir, version, retention)
  }

  /** A batch must not change a recorded column's type: the merge's
    * `unionByName` would write the coerced type into the touched buckets
    * under a manifest that still records the old one, and every later merge
    * or read touching an old and a new bucket would fail. Checked before
    * any job runs: the union's schema is analysis only. A batch
    * that coerces TO the recorded type (a narrower or all-null column)
    * writes files that match the manifest, and passes.
    */
  private def requireSameTypes(spark: SparkSession, recorded: StructType,
      batch: DataFrame): Unit = {
    val unioned = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], recorded)
      .unionByName(batch, allowMissingColumns = true).schema
    recorded.fields.zip(unioned.fields).foreach { case (r, u) =>
      if (!ColumnBridge.equalsIgnoreNullability(r.dataType, u.dataType))
        throw new IllegalArgumentException(
          s"CDC batch column `${r.name}` would change the snapshot's recorded type " +
            s"${r.dataType.sql} to ${u.dataType.sql}; snapshot columns do not change type")
    }
  }

  // Atomic publish: create-and-close of a brand-new file; readers list
  // manifests and take the max version, so no rename/delete window exists.
  private def publish(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      manifest: SnapshotManifest): Unit = {
    val out = fs.create(new Path(root, s"manifest-${manifest.version}.json"), false)
    try out.write(mapper.writeValueAsString(manifest)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Guided bucket-count evolution: rewrite the whole snapshot at
    * `newNumBuckets` as one new manifest version. The pk-hash bucketing
    * means a count change redistributes every pk, so this is necessarily a
    * full rewrite — an explicit, operator-initiated migration (grow buckets
    * when per-bucket rewrite cost dominates merge latency), never something
    * a routine merge does implicitly. Readers see the old manifest until
    * the new one publishes; subsequent merges pick up the new count from
    * the manifest. Returns the published version.
    */
  def rebucket(spark: SparkSession, snapshotDir: String, newNumBuckets: Int,
      retention: Retention = Retention()): Long = {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    val prev = latestManifest(spark, snapshotDir).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $snapshotDir"))
    require(prev.pkCols != null && prev.pkCols.nonEmpty,
      "manifest records no pk columns (snapshot written by a pre-rebucket " +
        "version); re-merge once to record them")
    val root = new Path(snapshotDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val version = prev.version + 1
    val stageRel = s"data-v$version"
    readManifest(spark, snapshotDir, prev)
      .withColumn("__bucket", bucketCol(prev.pkCols, newNumBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$snapshotDir/$stageRel")
    val written = (0 until newNumBuckets)
      .filter(b => fs.exists(new Path(root, s"$stageRel/__bucket=$b")))
      .map(b => b.toString -> s"$stageRel/__bucket=$b").toMap
    publish(fs, root, SnapshotManifest(
      version, newNumBuckets, written, prev.schemaJson, prev.pkCols))
    gc(spark, snapshotDir, version, retention)
    version
  }

  /** Per-bucket small-file compaction: rewrite every current bucket into a
    * single fresh generation directory at the SAME bucket count — after
    * many incremental merges a read lists one directory per historically
    * touched generation; compaction collapses that to one.
    */
  def compact(spark: SparkSession, snapshotDir: String,
      retention: Retention = Retention()): Long = {
    val prev = latestManifest(spark, snapshotDir).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $snapshotDir"))
    rebucket(spark, snapshotDir, prev.numBuckets, retention)
  }

  /** Drop manifests outside the retention window and any bucket directory
    * no longer referenced by a retained manifest. The window is the newest
    * `retention.generations` versions, widened by `retention.minAgeMs`
    * (a manifest file younger than that never deletes, whatever its
    * version) — the Delta-style guard for in-flight readers, since read()
    * returns lazy DataFrames that resolve files at action time.
    * Liveness is per BUCKET path, not per generation directory: a
    * generation stays on disk only for the buckets still referenced, so
    * superseded bucket copies can never accumulate (a top-level-only GC
    * would leak every stale sibling of a long-lived bucket).
    */
  private def gc(spark: SparkSession, snapshotDir: String, current: Long,
      retention: Retention): Unit = {
    val root = new Path(snapshotDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - retention.minAgeMs
    val keepManifests: Set[Long] = fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) if v.toLong > current - retention.generations ||
          st.getModificationTime >= cutoff => Some(v.toLong)
        case _ => None
      }
    }.toSet
    val live: Set[String] = keepManifests.flatMap { v =>
      val p = new Path(root, s"manifest-$v.json")
      if (!fs.exists(p)) Set.empty[String]
      else loadManifest(fs, p).buckets.values.toSet
    }
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      name match {
        case ManifestRe(v) if !keepManifests.contains(v.toLong) =>
          fs.delete(st.getPath, false)
        case _ if st.isDirectory && name.startsWith("data-v") =>
          val buckets = fs.listStatus(st.getPath)
            .filter(_.getPath.getName.startsWith("__bucket="))
          buckets.foreach { b =>
            if (!live.contains(s"$name/${b.getPath.getName}"))
              fs.delete(b.getPath, true)
          }
          val anyLive = buckets.exists(b => live.contains(s"$name/${b.getPath.getName}"))
          if (!anyLive) fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** Canal-JSON lines → keyed change rows ready for [[start]]/[[mergeBatch]]:
    * the DEFAULT snapshot ingest, riding the q118-locked PARTIAL parse
    * (id/database/table/type + only the named data/old keys as structs —
    * sqlType/mysqlType and unreferenced keys never materialize; measured
    * 1.3× on the parse stage, PERFORMANCE.md r6) instead of the full
    * 13-field [[Envelope.parse]]. Route filter, then per-row: `cid` = the
    * envelope id, `type`, `pk` = the pk field from the first data image
    * with the old-image fallback (DELETE envelopes built from
    * before-images), plus each requested data field as a string column.
    */
  def canalChanges(lines: DataFrame, valueCol: String, instances: Seq[Instance],
      pkField: String, dataFields: Seq[String]): DataFrame = {
    require(instances.nonEmpty, "canalChanges needs at least one routing instance")
    val fields = (pkField +: dataFields).distinct
    val parsed = lines.select(
      Envelope.parsePartial(col(valueCol), fields, oldFields = Seq(pkField)).as("e"))
      .select("e.*")
    val routed = parsed.filter(
      size(Routing.routes(instances, col("database"), col("table"))) > 0)
    val img = try_element_at(col("data"), lit(1))
    val oldImg = try_element_at(col("old"), lit(1))
    routed.select(Seq(
      col("id").as("cid"), col("type"),
      coalesce(img.getField(pkField), oldImg.getField(pkField)).as("pk")) ++
      dataFields.filterNot(_ == pkField).map(f => img.getField(f).as(f)): _*)
  }

  /** Start the DEFAULT Canal-JSON snapshot pipeline: [[canalChanges]]
    * (partial-parse ingest) → [[start]] (bucketed latest-image merge).
    */
  def startFromCanalJson(lines: DataFrame, valueCol: String,
      instances: Seq[Instance], pkField: String, dataFields: Seq[String],
      snapshotDir: String, checkpointDir: String, numBuckets: Int = 16,
      retention: Retention = Retention()): StreamingQuery =
    start(canalChanges(lines, valueCol, instances, pkField, dataFields),
      Seq("pk"), "cid", snapshotDir, checkpointDir, numBuckets, retention)

  /** Start the streaming merge over a change-row stream.
    *
    * `outputMode` only drives Spark's stateful-operator compatibility check
    * (foreachBatch receives each micro-batch as-is either way): the default
    * "update" suits plain change feeds; pass "append" when the change
    * stream itself contains append-mode stateful stages (e.g. the
    * [[ReplicaStream]] chain — flatMapGroupsWithState stages require an
    * append-mode query).
    */
  def start(changes: DataFrame, pkCols: Seq[String], ordCol: String,
      snapshotDir: String, checkpointDir: String, numBuckets: Int = 16,
      retention: Retention = Retention(), outputMode: String = "update"): StreamingQuery =
    changes.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, pkCols, ordCol, snapshotDir, numBuckets, retention)
      }
      .start()
}
