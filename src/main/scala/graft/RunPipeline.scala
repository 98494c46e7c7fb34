package graft

import graft.core.Readers
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
  * JSON-lines evidence file.
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
      Pipelines.runToFile(spark, name, inputs, out)
      println(s"[run] $name -> $out")
    } finally spark.stop()
  }
}
