package graft.streaming

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-cached bloom front: a root's first published delta SEEDS
  * the cache (the next probe runs no read job) only when the front's
  * listing holds exactly that one blob file, and a seeded front screens
  * exactly like one read back from disk.
  */
class StoreLayoutSpec extends SparkSpec {

  private val P = 16

  /** (keyHash, bucket) of ids `from until to` — the (`__h`, `pb`) rows a
    * screen probes with.
    */
  private def keyed(from: Long, to: Long): DataFrame =
    spark.range(from, to)
      .select(StoreLayout.keyHash(col("id")).as("__h"))
      .withColumn("pb", StoreLayout.bucketOf(col("__h"), P))

  private def delta(from: Long, to: Long): Seq[(Int, Array[Byte])] = {
    val keys = keyed(from, to).collect().map(r => (r.getLong(0), r.getInt(1)))
    StoreLayout.bloomDeltaLocal(keys, keys.length.toLong, P)
  }

  /** Publish `blobs` into `dir` as ONE blob file, the way a trigger's
    * staged front delta lands.
    */
  private def writeBlobs(dir: String, blobs: Seq[(Int, Array[Byte])]): Unit = {
    val s = spark
    import s.implicits._
    blobs.toDF("pb", "bloom").coalesce(1).write.mode("append").parquet(dir)
  }

  private def maybe(dir: String, batch: DataFrame): Set[Long] =
    StoreLayout.bloomScreen(spark, dir, batch).get
      .collect().map(_.getLong(0)).toSet

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toFile.getAbsolutePath

  test("a seeded front probes the same as a fresh read, without its read job") {
    val base = tmp("graft_front_seed")
    val seeded = s"$base/seeded"
    val fresh = s"$base/fresh"
    val blobs = delta(0L, 2000L)
    Seq(seeded, fresh).foreach(writeBlobs(_, blobs))
    StoreLayout.noteFrontDelta(spark, seeded, blobs)

    val batch = keyed(1000L, 4000L) // half published, half novel
    val (_, seededReads) = JobCounter.count(spark.sparkContext)(
      StoreLayout.bloomScreen(spark, seeded, batch))
    val (_, freshReads) = JobCounter.count(spark.sparkContext)(
      StoreLayout.bloomScreen(spark, fresh, batch))
    assert(seededReads == 0, "a seeded front must not read its blobs back")
    assert(freshReads > 0, "an unseeded front reads its blobs")

    val got = maybe(seeded, batch)
    assert(got == maybe(fresh, batch))
    val published = keyed(1000L, 2000L).collect().map(_.getLong(0)).toSet
    assert(published.subsetOf(got), "a front never misses a published key")
  }

  test("a foreign blob file in the listing drops the seed") {
    val dir = s"${tmp("graft_front_foreign")}/front"
    val ours = delta(0L, 1000L)
    writeBlobs(dir, ours)
    writeBlobs(dir, delta(5000L, 6000L)) // another writer's delta
    StoreLayout.noteFrontDelta(spark, dir, ours)

    // seeded with `ours` alone, the front would report the foreign keys
    // absent — the probe must read both files instead
    val foreign = keyed(5000L, 6000L)
    val (got, reads) = JobCounter.count(spark.sparkContext)(maybe(dir, foreign))
    assert(reads > 1, "the unseeded front reads its blobs before probing")
    assert(foreign.collect().map(_.getLong(0)).toSet.subsetOf(got),
      "every foreign key must still screen as maybe-present")
  }

  test("a driver-written front probes the same as a Spark-written one, " +
      "empty or not, and seeds the cache from its one file") {
    val base = tmp("graft_front_local")
    val batch = keyed(1000L, 4000L) // half published, half novel
    def joinProbe(dir: String): Set[Long] =
      StoreLayout.bloomMaybe(batch,
          spark.read.schema(StoreLayout.FrontSchema).parquet(dir))
        .select("__h").distinct().collect().map(_.getLong(0)).toSet
    def dataFiles(dir: String): Int = new java.io.File(dir).listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    Seq("full" -> delta(0L, 2000L), "empty" -> Seq.empty).foreach {
      case (name, blobs) =>
        val local = s"$base/local_$name"
        val written = s"$base/spark_$name"
        StoreLayout.writeFrontLocal(spark, local, blobs)
        writeBlobs(written, blobs)
        assert(dataFiles(local) == 1, s"$name: one data file")
        assert(joinProbe(local) == joinProbe(written), s"$name: join probe")
        assert(maybe(local, batch) == maybe(written, batch),
          s"$name: cached probe")
        if (blobs.isEmpty) assert(maybe(local, batch).isEmpty)
        else assert(keyed(1000L, 2000L).collect().map(_.getLong(0)).toSet
          .subsetOf(maybe(local, batch)), "a front never misses a published key")
    }

    val seeded = s"$base/seeded"
    val blobs = delta(0L, 2000L)
    StoreLayout.writeFrontLocal(spark, seeded, blobs)
    StoreLayout.noteFrontDelta(spark, seeded, blobs)
    val (_, reads) = JobCounter.count(spark.sparkContext)(
      StoreLayout.bloomScreen(spark, seeded, batch))
    assert(reads == 0, "a driver-written front seeds the cache like a Spark-written one")
    assert(maybe(seeded, batch) == maybe(s"$base/spark_full", batch))
  }
}
