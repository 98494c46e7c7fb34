package evbench

import java.io.{File, FileInputStream, FileOutputStream, PrintWriter}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.io.Source

import graft.core.Readers
import graft.parsers.Pipelines

/** Self-test of the benchmark's own machinery, on small inputs:
  * staging the same seed twice gives byte-identical inputs, another seed
  * gives different ones, a clean evidence file passes the output check
  * and a copy with one corrupted line fails it.
  *
  *   evbench.SelfTest --work DIR --cores K
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val o = Main.parse(args.toList)
    Inputs.deleteRecursively(new File(o.work))
    val spark = Main.session(o.cores, withExtensions = false, "evbench-selftest")
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) errors += what
    }
    try {
      for (w <- Workload.all) {
        def digest(seed: Long, tag: String) = Inputs.digest(w.stage(seed, s"${o.work}/${w.name}-$tag", 0.01).paths)
        val a = digest(7, "a")
        expect(a == digest(7, "b"), s"${w.name}: same seed, byte-identical inputs")
        expect(a != digest(8, "c"), s"${w.name}: another seed, different inputs")
      }
      val st = Workload.evidenceSink.stage(7, s"${o.work}/evidence_sink-a", 0.01)
      val item = st.items.collect { case p: PipeItem => p }.head
      val in = item.inputs.map { case (k, p) => k -> Readers.readPath(spark, p) }.toMap
      val out = s"${o.work}/${item.name}.json.gz"
      Pipelines.runToFile(spark, item.name, in, out)
      val expected = Digest.ofRows(Pipelines.byName(item.name).run(spark, in))
      expect(Digest.ofFile(spark, out) == expected, s"${item.name}: evidence file matches the parser rows")
      val lines = {
        val src = Source.fromInputStream(new GZIPInputStream(new FileInputStream(out)), "UTF-8")
        try src.getLines().toVector finally src.close()
      }
      val bad = s"${o.work}/corrupt.json.gz"
      val pw = new PrintWriter(new GZIPOutputStream(new FileOutputStream(bad)), false, java.nio.charset.StandardCharsets.UTF_8)
      try lines.updated(lines.size / 2, lines(lines.size / 2).replaceFirst("cancer_biomarkers", "cancer_biomarkerz")).foreach(pw.println)
      finally pw.close()
      expect(Digest.ofFile(spark, bad) != expected, s"${item.name}: one corrupted line fails the check")
    } finally spark.stop()
    if (errors.nonEmpty) sys.exit(1)
    println("[selftest] all checks passed")
  }
}
