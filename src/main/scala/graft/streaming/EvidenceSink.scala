package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Qc

/** Streaming → evidence-contract bridge: append each micro-batch as
  * gzipped JSON-lines parts under one output directory (the parallel
  * variant of the K1 sink — `coalesce(1)` per batch would serialize the
  * stream; consumers glob the directory, same as the reference's
  * validator reads a single file).
  *
  * foreachBatch rather than the built-in json sink so per-batch QC hooks
  * (graft.core.Qc) can veto a bad batch before it lands.
  */
object EvidenceSink {

  /** @param contract optional [[Qc.EvidenceContract]]: each micro-batch is
    *                  validated BEFORE it lands (one aggregate pass over
    *                  the batch — batches are small by construction, and a
    *                  violating batch must not reach the directory, unlike
    *                  the batch sink's file-then-validate flow). A
    *                  violation fails the streaming query with every rule
    *                  named; the checkpoint replays the batch after a fix.
    */
  def start(
      evidence: DataFrame,
      outDir: String,
      checkpointDir: String,
      qc: DataFrame => Unit = _ => (),
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      contract: Option[Qc.EvidenceContract] = None,
  ): StreamingQuery =
    DocsStream.docsStreamForeach(evidence, checkpointDir, trigger) { (batch, _) =>
      // Validation is its own action; persist so the micro-batch source
      // is processed once per trigger, not once per action.
      val pinned = if (contract.isDefined) batch.persist() else batch
      try {
        qc(pinned)
        contract.foreach(c => Qc.validateEvidence(pinned, c))
        pinned.write
          .mode("append")
          .option("compression", "gzip")
          .json(outDir)
      } finally if (contract.isDefined) pinned.unpersist()
    }
}
