package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftStreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StructType}

/** Streaming CHANGE-FEED source over a vparquet table's manifest log — the
  * capability the reference gets from `load delta.` as a stream
  * (MLSQLDelta.scala:14-178 streaming read); re-designed here on the V1
  * micro-batch `Source` API, the same architecture as Delta's own
  * streaming source:
  *
  *  - offsets ARE manifest versions (`LongOffset(v)` = "versions ≤ v
  *    consumed"), so restart-from-checkpoint resumes exactly at the next
  *    commit — no file-listing diff, no timestamps;
  *  - each micro-batch emits the rows of the data files ADDED between the
  *    two offsets' manifests, tagged `_commit_version`. Appends stream
  *    exactly their appended rows. A keyed MERGE rewrites its touched
  *    buckets, so its batch carries those buckets' full new content —
  *    Delta's documented `ignoreChanges` semantics (updated rows arrive,
  *    possibly with unchanged neighbors from the same rewritten bucket);
  *    deletes are not emitted. Downstream keyed sinks (e.g. the vparquet
  *    CDC sink itself) absorb re-deliveries idempotently, which is what
  *    makes stream → vparquet → stream chains exactly-once end to end.
  *  - `startingVersion` picks the first version to emit (default 0 =
  *    replay the whole table: every live file was added by SOME retained
  *    version, so the replay is the initial snapshot plus history —
  *    vacuumed versions are rejected with a clear error);
  *  - `maxVersionsPerTrigger` rate-limits catch-up (a restarted stream
  *    facing 10⁴ accumulated commits processes them in bounded batches
  *    instead of one giant one).
  *
  * At 100 TB the per-trigger work is |files added by the new commits|,
  * never |table| — the manifest diff is two driver-side JSON reads.
  */
final class VParquetStreamProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "vparquet-stream"

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "vparquet stream requires a table path"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), VParquetChangeSource.feedSchema(
      sqlContext, tableOf(parameters), schema))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new VParquetChangeSource(sqlContext, tableOf(parameters),
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      parameters.get("maxVersionsPerTrigger").map(_.toLong).getOrElse(Long.MaxValue),
      schema)
}

object VParquetChangeSource {
  /** Data schema (from the latest manifest's files) + `_commit_version`. */
  private[sources] def feedSchema(sqlContext: SQLContext, table: String,
                                  userSchema: Option[StructType]): StructType = {
    val base = userSchema.getOrElse {
      val spark = sqlContext.sparkSession
      val v = VParquet.latestVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(
          s"vparquet stream: $table has no committed versions yet — create the " +
            "table first, or pass schema=\"...\""))
      val m = VParquet.readManifest(spark, table, v)
      spark.read.parquet(m.files.map(f => VParquet.entryPath(table, f.path)): _*).schema
    }
    require(!base.fieldNames.contains("_commit_version"),
      "vparquet stream: the table already has a `_commit_version` column")
    base.add("_commit_version", LongType, nullable = false)
  }
}

final class VParquetChangeSource(sqlContext: SQLContext, table: String,
                                 startingVersion: Long, maxVersionsPerTrigger: Long,
                                 userSchema: Option[StructType]) extends Source {

  require(maxVersionsPerTrigger >= 1, "maxVersionsPerTrigger must be >= 1")
  private val spark = sqlContext.sparkSession

  override val schema: StructType =
    VParquetChangeSource.feedSchema(sqlContext, table, userSchema)

  /** Highest version this source has OFFERED via getOffset — rate-limit
    * bookkeeping only; the engine's checkpoint is the durable cursor.
    */
  @volatile private var lastOffered: Long = startingVersion - 1

  override def getOffset: Option[Offset] = {
    val latest = VParquet.latestVersion(spark, table).getOrElse(return None)
    val next = math.min(latest, lastOffered + maxVersionsPerTrigger)
    if (next > lastOffered) lastOffered = next
    // an unchanged offered offset = "no new data" to the engine
    if (lastOffered < startingVersion) None else Some(LongOffset(lastOffered))
  }

  private def versionOf(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.toLong // SerializedOffset from a checkpoint restart
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf(_) + 1).getOrElse(startingVersion)
    val to = versionOf(end)
    // restart-from-checkpoint recovery calls getBatch with the PREVIOUS
    // run's offsets before any getOffset: fold them into the rate-limit
    // cursor so a small maxVersionsPerTrigger can never offer an offset
    // BEHIND what the checkpoint already committed
    if (to > lastOffered) lastOffered = to
    val all = (from to to).filter(v =>
      try { VParquet.readManifest(spark, table, v); true }
      catch { case _: java.io.FileNotFoundException => false })
    // versions inside the requested range that are GONE were vacuumed away
    // under the stream — fail loudly rather than silently skip data. (A
    // vacuumed v-1 BELOW the range is fine: the range's first version then
    // emits its full carried-forward file set — the initial snapshot.)
    require(from > to || all.length == (to - from + 1),
      s"vparquet stream: some versions in [$from, $to] of $table no longer " +
        "exist (vacuumed under the stream) — restart with startingVersion at " +
        "an existing version")
    val perVersion = all.flatMap(v => VParquet.changesOf(spark, table, v).map(m =>
      spark.read.schema(StructType(schema.dropRight(1)))
        .parquet(m.files.map(e => VParquet.entryPath(table, e.path)): _*)
        .withColumn("_commit_version", lit(v))))
    val batch =
      if (perVersion.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else perVersion.reduce(_ unionByName _)
    // V1 contract: the returned frame must carry isStreaming=true
    GraftStreamingShim.streamingDataFrame(
      sqlContext, batch.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
