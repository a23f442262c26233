package graftbench

import graft.blob.{Bloblang, Compile, Interp}
import graft.conn.{PipelineConfig, Sources}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `pipeline_backfill`: a closed loop of whole passes of a YAML config
  * through `PipelineConfig.load(...).run` — file/json_documents input, a
  * compiled mapping, an interpreted mapping, an interpolated-key dedupe and
  * a parquet output. */
object Backfill {

  /** Operator-ladder metric of each processor in the config, in order. */
  private val StageMetrics = Seq("ops.map_compiled_ms", "ops.map_interp_ms", "ops.dedupe_ms")

  def run(ctx: Ctx): Unit = {
    val yaml = read(ctx.path("config.yaml"))
    val records = ctx.mLong("records")
    val pass = (_: Int) => { PipelineConfig.load(yaml).run(ctx.spark); () }
    Setup.measure(ctx)(Loop.warmUp(2)(pass))
    if (!ctx.trace) {
      Loop.record(ctx, Loop.closed(ctx.seconds)(pass), records)
      return
    }
    val untraced = Loop.closed(ctx.seconds / 2)(pass)
    val tracer = new Tracer(ctx.spark)
    tracer.attach()
    val traced = Loop.closed(ctx.seconds / 2)(i => tracer.span("pass")(pass(i)))
    tracer.detach()
    ctx.layer ++= tracer.report(traced.size)
    val untracedRps = Stats.median(untraced.map(p => records / p.wallMs))
    val tracedRps = Stats.median(traced.map(p => records / p.wallMs))
    ctx.layer("trace.overhead_share") = 1.0 - tracedRps / untracedRps
    layers(ctx, yaml, tracer.spanMedian("pass"))
    // single-core baseline of the same passes
    ctx.restartSpark(1)
    val one = Loop.closed(ctx.seconds / 3, minPasses = 2)(pass)
    ctx.layer("exec.speedup_vs_1core") = untracedRps / Stats.median(one.map(p => records / p.wallMs))
  }

  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  /** Config, Bloblang and operator layers, each timed around its public call. */
  private def layers(ctx: Ctx, yaml: String, passMs: Double): Unit = {
    val spark = ctx.spark
    ctx.layer("config.load_ms") = Loop.medianMs(20)(PipelineConfig.load(yaml))
    val loaded = PipelineConfig.load(yaml)
    ctx.layer("config.frame_ms") = Loop.medianMs(5)(loaded.frame(spark))

    val mappings = mappingTexts(yaml)
    ctx.layer("blob.parse_ms") = Loop.medianMs(20)(mappings.foreach(Bloblang.parse))
    // compile chain: each mapping against the schema its predecessor left,
    // up to the first one outside the compiled subset (the config's seal)
    val input = Sources.jsonDocuments(spark, ctx.m("input_dir"))
    val progs = mappings.map(Bloblang.parse)
    def compileChain(): (Int, Option[Bloblang.Mapping]) = {
      var df = input
      var compiled = 0
      val firstInterp = progs.find { p =>
        Compile.tryCompile(p, df.schema) match {
          case Some(c) => compiled += 1; df = c.transform(df); false
          case None => true
        }
      }
      (compiled, firstInterp)
    }
    val (compiled, firstInterp) = compileChain()
    ctx.layer("blob.compile_ms") = Loop.medianMs(10)(compileChain())
    ctx.layer("blob.compiled_share") = compiled.toDouble / progs.size
    firstInterp.foreach { prog =>
      val sample = Files.readAllLines(Paths.get(ctx.m("sample_file"))).asScala.toVector.take(5000)
      val ms = Loop.medianMs(5)(sample.foreach(c => Interp.run(prog, c)))
      ctx.layer("blob.interp_us_per_msg") = ms * 1000.0 / sample.size
    }

    // prefix ladder: the config forced after 0, 1, 2, ... processors
    // (noop sink), then the full config with its output
    val rungs = (0 to loaded.stages.size).map { k =>
      val prefix = loaded.copy(stages = loaded.stages.take(k), output = None)
      Loop.medianMs(2)(prefix.frame(spark).write.format("noop").mode("overwrite").save())
    }
    val top = Loop.medianMs(2)(PipelineConfig.load(yaml).run(spark))
    ctx.layer("ops.scan_ms") = rungs.head
    StageMetrics.zip(rungs.sliding(2).map { case Seq(a, b) => b - a }.toSeq)
      .foreach { case (name, v) => ctx.layer(name) = v }
    ctx.layer("ops.output_ms") = top - rungs.last
    ctx.layer("ops.residual_ms") = passMs - top
  }

  private def mappingTexts(yaml: String): Seq[String] = {
    val doc = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Any]](yaml)
    val procs = doc.get("pipeline").asInstanceOf[java.util.Map[String, Any]]
      .get("processors").asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala
    procs.flatMap(p => Option(p.get("mapping")).map(String.valueOf)).toSeq
  }
}
