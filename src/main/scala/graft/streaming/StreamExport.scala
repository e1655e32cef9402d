package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.AvroSchemaGen
import graft.sink.AvroSink

/** Streaming Avro export — the dbeam export surface (cf. reference
  * `jobs/JdbcAvroJob.java`, batch-only) applied to an unbounded source.
  *
  * Each micro-batch is written through the same executor-side [[AvroSink]]
  * the batch ExportJob uses, into a per-batch subdirectory
  * (`batch-<id 9 digits>`). Per-batch directories give idempotent retry
  * semantics: `foreachBatch` re-delivers a failed batch under the SAME
  * batch id, so the rewrite lands in the same directory (same
  * part-file names, attempt-scoped temps + rename inside the sink) instead
  * of duplicating rows next to committed files. A retry that re-plans
  * with a DIFFERENT partition count would produce a disjoint
  * `part-i-of-M` name set; the sink's `_MANIFEST` sidecar (written after
  * all parts commit) records the published set and `AvroSource` rejects a
  * batch directory whose files don't match it, so that failure mode is
  * loud, never silent duplication. The checkpoint (offsets +
  * commits) lives under `<outputDir>/_checkpoint` unless overridden, so a
  * restarted query resumes after the last committed batch.
  *
  * Scale: the sink path is identical to batch export — executor-side
  * mapPartitions encoding, no driver collect, no shuffle beyond what the
  * upstream query required; an unbounded 100 TB/day feed exports at the
  * same per-row cost as the batch job.
  */
object StreamExport {

  /** Starts the export; caller owns the returned query's lifecycle. */
  def start(
      stream: DataFrame,
      outputDir: String,
      codec: String = "deflate1",
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointDir: Option[String] = None): StreamingQuery = {
    AvroSink.codecFactory(codec) // validate eagerly, before the query starts
    val t0 = System.nanoTime()
    val schema = AvroSchemaGen.generate(
      stream.schema, AvroSchemaGen.Config(tableName = "stream_export"))
    val schemaMs = (System.nanoTime() - t0) / 1000000L
    // Same layout contract as the batch ExportJob: the inferred schema is
    // published once at the export root (all batches share it).
    AvroSink.writeSideFile(
      stream.sparkSession.sparkContext.hadoopConfiguration,
      s"$outputDir/_AVRO_SCHEMA.avsc", schema.toString(true))
    VersionedStore.start(stream, checkpointDir.getOrElse(s"$outputDir/_checkpoint"), trigger) {
      (batch, batchId) =>
        AvroSink.write(batch, schema, f"$outputDir/batch-$batchId%09d", codec,
          schemaElapsedTimeMs = schemaMs)
        ()
    }
  }
}
