package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.{Qc, Readers, Writers}
import graft.parsers.Pipelines

/** CLI entry point — the counterpart of the reference's per-parser CLIs
  * (each Snakefile rule runs `python modules/X.py --input … --output …`).
  *
  * Usage:
  *   runMain graft.RunPipeline <pipeline> <out.json.gz> key=path [key=path …]
  *
  * Each `key=path` names one expected input of the pipeline (see
  * `Pipelines.byName(<pipeline>).inputs`); paths go through the
  * format-auto-detecting reader (S8). Output is the K1 single-gzip
  * JSON-lines evidence file. The run prints one JSON report line (see
  * [[report]]), also when the contract fails after the bytes land.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: RunPipeline <pipeline> <out.json.gz> key=path ...")
      System.err.println(s"pipelines: ${Pipelines.all.map(_.name).sorted.mkString(", ")}")
      sys.exit(2)
    }
    val name = args(0)
    val out = args(1)
    val pipeline = Pipelines.byName.getOrElse(name, {
      System.err.println(s"unknown pipeline '$name'; known: ${Pipelines.all.map(_.name).sorted.mkString(", ")}")
      sys.exit(2)
      throw new IllegalStateException
    })
    val spark = GraftSession(s"graft-$name", GraftSession.cores(default = 4))
    try {
      val inputs = args.drop(2).map { kv =>
        val Array(k, path) = kv.split("=", 2)
        k -> Readers.readPath(spark, path)
      }.toMap
      val missing = pipeline.inputs.toSet -- inputs.keySet
      // Fan-out pipelines take source0..sourceN instead of fixed names.
      if (missing.nonEmpty && !pipeline.inputs.contains("sources"))
        System.err.println(s"warning: missing declared inputs: ${missing.mkString(", ")}")
      val written =
        try Pipelines.runToFile(spark, name, inputs, out)
        catch {
          case e @ Qc.QcException(_, Some(w)) =>
            println(report(name, out, w))
            throw e
        }
      println(report(name, out, written))
    } finally spark.stop()
  }

  /** The run report: `{"pipeline", "out", "rows_written", "bytes_written",
    * "violations": {rule: n}}`, all from the write itself (no extra job).
    * Rows read per input are not reported: each count would be a scan.
    */
  def report(pipeline: String, out: String, w: Writers.Written): String = {
    val om = new ObjectMapper()
    val node = om.createObjectNode().put("pipeline", pipeline).put("out", out)
    w.rows.fold(node.putNull("rows_written"))(node.put("rows_written", _))
    node.put("bytes_written", w.bytes)
    val violations = node.putObject("violations")
    w.violations.toSeq.sorted.foreach { case (rule, n) => violations.put(rule, n) }
    om.writeValueAsString(node)
  }
}
