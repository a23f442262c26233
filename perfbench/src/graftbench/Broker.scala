package graftbench

import graft.conn.Kafka
import graft.core.Msg
import org.apache.spark.sql.functions._

/** `broker_roundtrip`: produce every message from the executors into an
  * in-process MiniKafka (4 partitions) with `Kafka.output`, read the topic
  * back with `Kafka.input`, wrap it in the Msg envelope and write parquet.
  * Each pass uses a fresh topic, so every pass moves the whole input. */
object Broker {
  val Partitions = 4

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val records = ctx.mLong("records")
    var server: Kafka.MiniKafka = null
    var serverStartMs = 0.0
    val pass = (i: Int) =>
      roundTrip(ctx, server.bootstrap, ctx.m("messages"), s"t$i", ctx.path("out/broker"), None)
    Setup.measure(ctx) {
      val (srv, ms) = Loop.time(new Kafka.MiniKafka(numPartitions = Partitions).start())
      server = srv; serverStartMs = ms
      Loop.warmUp(2)(pass)
    }
    try {
      if (!ctx.trace) {
        Loop.record(ctx, Loop.closed(ctx.seconds)(pass), records)
        return
      }
      val untraced = Loop.closed(ctx.seconds / 2)(pass)
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = Loop.closed(ctx.seconds / 2) { i =>
        roundTrip(ctx, server.bootstrap, ctx.m("messages"), s"traced$i", ctx.path("out/broker"),
          Some(tracer))
      }
      tracer.detach()
      ctx.layer ++= tracer.report(traced.size)
      ctx.layer("kafka.server_start_ms") = serverStartMs
      ctx.layer("kafka.produce_ms") = tracer.spanMedian("produce")
      ctx.layer("kafka.fetch_ms") = tracer.spanMedian("fetch")
      ctx.layer("kafka.msgs") = records.toDouble
      ctx.layer("kafka.mb") = ctx.manifest("bytes").toString.toDouble / 1048576.0
      ctx.layer("trace.overhead_share") = 1.0 -
        Stats.median(traced.map(p => records / p.wallMs)) /
          Stats.median(untraced.map(p => records / p.wallMs))
    } finally server.stop()
  }

  private def roundTrip(ctx: Ctx, bootstrap: String, input: String, topic: String, out: String,
                        tracer: Option[Tracer]): Unit = {
    val spark = ctx.spark
    def span[T](n: String)(f: => T): T = tracer.fold(f)(_.span(n)(f))
    val lines = spark.read.text(input)
      .select(get_json_object(col("value"), "$.id").cast("long").as("id"), col("value"))
      .repartition(ctx.cores)
    span("produce")(Kafka.output(lines, bootstrap, topic,
      partitionOf = r => (r.getLong(0) % Partitions).toInt,
      keyOf = r => r.getLong(0).toString.getBytes("UTF-8"),
      valueOf = r => r.getString(1).getBytes("UTF-8")))
    span("fetch")(Kafka.input(spark, bootstrap, topic)
      .toDF("kafka_partition", "kafka_offset", "key", "value")
      .select(col("value").as(Msg.ContentCol),
        map(lit("kafka_key"), col("key"),
          lit("kafka_partition"), col("kafka_partition").cast("string"),
          lit("kafka_offset"), col("kafka_offset").cast("string")).as(Msg.MetaCol),
        lit(null).cast("string").as(Msg.ErrorCol),
        monotonically_increasing_id().as(Msg.SeqCol))
      .write.mode("overwrite").parquet(out))
  }
}
