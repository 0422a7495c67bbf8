package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.sun.management.OperatingSystemMXBean
import org.apache.spark.metrics.source.CodegenMetrics

import graft.cli.{Curate, Evaluate, Predict, Train}

/** One cold-JVM run of a benchmark workflow, driven through the `cli`
  * entry points exactly as a command-line user calls them.
  *
  * Usage: Workflow <recsys|curate> <inputDir> <outDir> <trace 0|1> <result.json>
  *
  * Each entry-point call is a span. Per span the run records wall time,
  * process CPU, JIT time, codegen counters and the live heap the call
  * left behind; with tracing on, the [[Tracer]] listeners also record
  * every job, query and micro-batch.
  * The result file is written once, after the session has stopped. */
object Workflow {

  final case class Span(name: String, startMs: Double, endMs: Double, cpuNs: Long,
      jitMs: Long, codegenClasses: Long, codegenMs: Long, heapBytes: Long, ok: Boolean,
      error: String, result: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, traceFlag, resultPath) = args
    require(Set("recsys", "curate")(workload), s"unknown workload '$workload'")
    val spark = graft.cli.Cli.session()
    val tracer = if (traceFlag == "1") Some(new Tracer) else None
    tracer.foreach(_.install(spark))
    spark.range(1).count()
    val readyMs = nowMs()

    val spans = mutable.ArrayBuffer.empty[Span]
    def stage(name: String)(body: => Any): Unit = {
      println(s"[perfbench] stage $name")
      spans += timed(name)(body)
    }
    workload match {
      case "recsys" =>
        for (model <- Seq("itemcf", "als")) {
          val artifacts = s"$outDir/model_$model"
          val preds = s"$outDir/pred_$model"
          stage(s"train.$model")(Train.runWith(spark, model, inputDir, artifacts, Map.empty))
          stage(s"predict.$model")(Predict.run(spark, model, inputDir, artifacts, preds))
          stage(s"evaluate.$model")(Evaluate.run(spark, preds, inputDir))
        }
      case "curate" =>
        val curated = s"$outDir/curated"
        // a token budget above any corpus size keeps every dedup
        // survivor, so the ingest leg probes against all of them
        stage("curate.run")(Curate.run(spark, s"$inputDir/corpus", curated,
          budget = Long.MaxValue / 4))
        stage("curate.ingest")(Curate.runIngest(spark, s"$inputDir/incoming", curated,
          s"$outDir/ingested"))
    }
    // stopping the context drains the listener bus, so the tracer has
    // seen every event before it is written out
    spark.stop()

    val fields = Seq(
      "workload" -> workload,
      "traced" -> tracer.isDefined,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_ms" -> readyMs,
      "peak_heap_bytes" -> spans.map(_.heapBytes).maxOption.getOrElse(0L),
      "spans" -> spans.toSeq.map(s => Seq(
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "cpu_ns" -> s.cpuNs, "jit_ms" -> s.jitMs,
        "codegen_classes" -> s.codegenClasses, "codegen_ms" -> s.codegenMs,
        "heap_bytes" -> s.heapBytes,
        "ok" -> s.ok, "error" -> s.error, "result" -> s.result))) ++
      tracer.map(_.toJson).getOrElse(Nil)
    Files.writeString(Paths.get(resultPath), Json.render(fields))
  }

  private def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  // ContextCleaner polls its reference queue every 100 ms
  private val CleanerPauseMs = 150L

  /** Janino compile count and total milliseconds so far. The histogram's
    * reservoir keeps every sample while fewer than its size (1028) have
    * been taken, which a single workflow stays under. */
  private def codegen(): (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }

  private def timed(name: String)(body: => Any): Span = {
    val (cg0, cgMs0) = codegen()
    val jit0 = jit.getTotalCompilationTime
    val cpu0 = os.getProcessCpuTime
    val t0 = nowMs()
    val (ok, error, result) =
      try { val r = body; (true, "", if (r == (())) "" else String.valueOf(r)) }
      catch { case NonFatal(e) => (false, s"${e.getClass.getName}: ${e.getMessage}", "") }
    val t1 = nowMs()
    val cpu1 = os.getProcessCpuTime
    val jit1 = jit.getTotalCompilationTime
    val (cg1, cgMs1) = codegen()
    // full collections at the stage boundary, outside the timed
    // interval, leave the live heap the stage kept (each CLI command
    // would start in a fresh JVM anyway). The pause between them lets
    // Spark's context cleaner drop the blocks of objects the first
    // collection found unreachable, so the second one frees them too.
    System.gc()
    Thread.sleep(CleanerPauseMs)
    System.gc()
    val heapBytes = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Span(name, t0, t1, cpu1 - cpu0, jit1 - jit0, cg1 - cg0, cgMs1 - cgMs0, heapBytes,
      ok, error, result)
  }
}

/** Minimal JSON rendering for the result file: Seq of pairs → object,
  * other Seq → array, String → string, numbers and booleans as is. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => render(m.toSeq)
    case xs: Seq[_] if xs.nonEmpty && xs.forall(isField) =>
      xs.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def isField(x: Any): Boolean = x match {
    case (_: String, _) => true
    case _ => false
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
