package graft.streaming

import graft.cdc.{CdcConfig, Envelope, Instance, MqDecl}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Config-driven serving topology — the reference's `--serve` main
  * (`/root/reference/src/main.rs:56-71`: config → binlog consumer → routed
  * dispatch threads → MQ producers) assembled as Structured Streaming
  * queries: each envelope row fans out to the instances that match it, and
  * every configured MQ gets its own sink query reading only its share.
  *
  * One streaming query per MQ (not per instance): per-MQ checkpoints fail
  * and recover independently, like the reference's per-MQ dispatch threads
  * (`executor.rs:445-499`), while topic fan-out inside one MQ stays a
  * column, not a query. The price of that isolation is that each MQ's
  * query independently re-executes the shared parse+routing prefix per
  * micro-batch (Structured Streaming gives every query its own
  * incremental execution) — K MQs cost K passes over the decode path;
  * acceptable because MQ counts are small and per-MQ failure isolation is
  * the property the reference's users rely on.
  */
object Pipeline {

  /** The assembled topology. Kafka writers are returned unstarted (starting
    * requires the spark-sql-kafka jar on the classpath — absent here, see
    * [[Sinks.kafkaCanal]]); queue-shaped sinks are returned running.
    */
  final case class Assembled(
      kafka: Seq[(String, DataStreamWriter[Row])],
      queues: Seq[(String, StreamingQuery)]) {
    def stop(): Unit = queues.foreach(_._2.stop())
  }

  /** Schema-stamped wire events → Canal-JSON envelope rows: the LAST
    * missing link between the byte side and the envelope side, closing
    * the reference's whole dataflow as one chain —
    * `SchemaStream.withSchema(ReplicaStream.fromChunks) →
    * envelopesFromWire → fromConfig` is `main.rs` end to end, its whole
    * stateful part one per-session operator. Each row
    * event decodes under its stamped era schema (no external metadata),
    * UPDATE before-images land in `old`, DELETEs carry their image in
    * `data` with type DELETE (the Canal convention the reference renders,
    * `executor.rs:52-87`), and sqlType/mysqlType maps derive from the
    * stamped column types. Stateless flatMap — chains with no shuffle.
    */
  def envelopesFromWire(named: org.apache.spark.sql.Dataset[SchemaEvent],
      pkName: String = "pk"): DataFrame = {
    import graft.cdc.{BinlogRowCodec, BinlogSchema, Catalog}
    import named.sparkSession.implicits._
    val rows = named.flatMap { e =>
      val h = BinlogRowCodec.decodeHeader(e.event, packetMarker = false)
      val cols = e.names.zip(e.mysqlTypes)
      val sch = BinlogSchema.fromMysqlTypes(cols)
      val tpe = h.getInt(1)
      val r = BinlogRowCodec.decodeRows(h.getBinary(6), tpe, sch)
      def images(slot: Int): Seq[Map[String, String]] = {
        val arr = if (slot == 0) r.getArray(0) else r.getArray(1)
        (0 until arr.numElements()).map { i =>
          val m = arr.getMap(i)
          (0 until m.numElements()).map(j =>
            m.keyArray.getUTF8String(j).toString ->
              (if (m.valueArray.isNullAt(j)) null
               else m.valueArray.getUTF8String(j).toString)).toMap
        }
      }
      val dml = tpe match {
        case BinlogRowCodec.WriteV1 | BinlogRowCodec.WriteV2 => "INSERT"
        case BinlogRowCodec.DeleteV1 | BinlogRowCodec.DeleteV2 => "DELETE"
        case _ => "UPDATE"
      }
      // Canal puts the surviving image in data: after for INSERT/UPDATE,
      // the deleted image for DELETE; old = UPDATE before-images only
      val data = if (dml == "DELETE") images(1) else images(0)
      val old = if (dml == "UPDATE") images(1) else Nil
      val sqlType = cols.map { case (n, t) => n -> Catalog.jdbcCode(t) }.toMap
      val mysqlType = cols.toMap
      Some((e.ordinal, e.db, e.table, dml, h.getLong(0) * 1000,
        h.getLong(0) * 1000, sqlType, mysqlType, data, old))
    }.toDF("id", "database", "table", "type", "es", "ts",
      "sqlType", "mysqlType", "data", "old")
    rows.select(graft.cdc.Envelope.parse(graft.cdc.Envelope.build(
      id = col("id"), database = col("database"), table = col("table"),
      pkNames = array(lit(pkName)), dmlType = col("type"),
      es = col("es"), ts = col("ts"),
      sqlType = col("sqlType"), mysqlType = col("mysqlType"),
      data = col("data"), old = col("old"))).as("e")).select("e.*")
  }

  /** Envelope stream → routed MQ records: one row per (envelope × matching
    * instance) with the target mq/topic and the Kafka-shaped key/value
    * projection. Non-matching envelopes drop here — the multicast explode
    * and the per-table-ordering key are the same semantics [[Sinks]] and
    * the reference's dispatcher use.
    */
  def routedRecords(envelopes: DataFrame, instances: Seq[Instance]): DataFrame = {
    // an empty instance list would build explode(array()) of NullType and
    // fail analysis with an unrelated-looking extraction error
    require(instances.nonEmpty, "routedRecords needs at least one routing instance")
    val e = struct(envelopes.columns.map(col): _*)
    envelopes
      .select(e.as("e"),
        explode(graft.cdc.Routing.routes(instances,
          col("database"), col("table"))).as("r"))
      .select(col("r.mq").as("mq"), col("r.topic").as("topic"),
        concat(col("e.database"), lit("."), col("e.table")).as("key"),
        Envelope.render(col("e")).as("value"))
  }

  /** Assemble every configured MQ's sink over a parsed envelope stream.
    *
    * @param newQueueClient builds the push client for queue-shaped
    *        (REDIS-config) MQs, from the declaration — executor-side
    *        construction, must be serializable (see [[Sinks.queueSink]])
    */
  def fromConfig(envelopes: DataFrame, cfg: CdcConfig, checkpointRoot: String,
      newQueueClient: MqDecl => () => (String, String) => Unit): Assembled = {
    if (cfg.instances.isEmpty) return Assembled(Nil, Nil)
    // Every instance must name a declared MQ: an undeclared name would
    // otherwise route rows no sink ever reads — silent data loss from a
    // config typo (the reference's dispatcher resolves mq by name and
    // fails; so do we).
    val declaredNames = cfg.mqs.map(_.mq_name).toSet
    val undeclared = cfg.instances.map(_.mq).filterNot(declaredNames)
    require(undeclared.isEmpty,
      s"instances route to undeclared mqs: ${undeclared.distinct.mkString(", ")}")
    val records = routedRecords(envelopes, cfg.routingInstances)
    val declared = cfg.instances.map(_.mq).toSet
    val routedMqs = cfg.mqs.filter(m => declared(m.mq_name))
    // classify by the transport actually configured; a declaration with
    // neither (a malformed mq_cfg block parses to two Nones) must not
    // silently become a queue sink pointing nowhere
    routedMqs.foreach { m =>
      require(m.mq_cfg.KAFKA.isDefined || m.mq_cfg.REDIS.isDefined,
        s"mq ${m.mq_name} declares neither KAFKA nor REDIS configuration")
    }
    val (kafkaMqs, queueMqs) = routedMqs.partition(_.mq_cfg.KAFKA.isDefined)
    val kafka = kafkaMqs.map { m =>
      val brokers = m.mq_cfg.KAFKA.get.brokers
      // no `topic` option: the per-row `topic` column routes, the Spark
      // kafka sink's documented multi-topic mode
      val w = records.filter(col("mq") === m.mq_name)
        .select("topic", "key", "value")
        .writeStream
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("checkpointLocation", s"$checkpointRoot/${m.mq_name}")
      m.mq_name -> w
    }
    val queues = queueMqs.map { m =>
      m.mq_name -> Sinks.queueSink(
        records.filter(col("mq") === m.mq_name),
        col("topic"), col("value"),
        s"$checkpointRoot/${m.mq_name}", newQueueClient(m))
    }
    Assembled(kafka, queues)
  }
}
