package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.dsl.ScriptContext
import graft.sources.VParquet

/** Streaming sources for `load` (reference: LoadAdaptor.scala:72-78,146 —
  * a stream-source format makes the whole script a streaming job; the
  * script must carry `set streamName="..."`).
  */
object StreamSources {

  /** Streaming formats get a `readStream` DataFrame; batch formats → None. */
  def loadIfStreaming(ctx: ScriptContext, format: String, path: String,
                      opts: Map[String, String]): Option[DataFrame] =
    format.toLowerCase match {
      case "mockstream" => Some(mockStream(ctx, path, opts))
      case "rate" =>
        Some(ctx.spark.readStream.format("rate").options(opts).load())
      case "streamparquet" | "streamcsv" | "streamjson" | "streamtext" =>
        val fmt = format.toLowerCase.stripPrefix("stream")
        val reader = ctx.spark.readStream.format(fmt).options(opts - "schema")
        val withSchema = opts.get("schema") match {
          case Some(ddl) => reader.schema(ddl)
          case None => reader
        }
        Some(withSchema.load(ctx.resolvePath(path)))
      case "vparquet" if (opts.contains("startingVersion") && !opts.contains("endingVersion")) ||
          opts.get("stream").contains("true") =>
        // startingVersion alone = STREAMING change feed; with endingVersion
        // it's the BATCH changes read handled by the registry source
        // change-feed read of a vparquet table's manifest log (the `load
        // delta.` streaming-read capability): `load vparquet.`t` where
        // startingVersion="0" as feed;` — see
        // [[graft.sources.VParquetChangeSource]] for the offset/emission
        // contract (versions are offsets; merges re-deliver their touched
        // buckets, Delta ignoreChanges semantics)
        val reader = ctx.spark.readStream
          .format(classOf[graft.sources.VParquetStreamProvider].getName)
          .options(opts - "schema")
        val withSchema = opts.get("schema") match {
          case Some(ddl) => reader.schema(ddl)
          case None => reader
        }
        Some(withSchema.load(ctx.resolvePath(path)))
      case "kafka" if !kafkaOnClasspath(ctx) =>
        throw new IllegalStateException(
          "kafka source requires spark-sql-kafka on the classpath (not bundled offline)")
      case "kafka" =>
        Some(ctx.spark.readStream.format("kafka").options(opts).load())
      case _ => None
    }

  /** Kafka-style value decoding (reference: LoadAdaptor.scala:167-199 +
    * WowJsonToStructs/WowCsvToStructs — re-expressed with the public
    * `from_json`/`from_csv`, per SURVEY §2.7): with
    * `valueSchema="a int, b string"` and `valueFormat="json"|"csv"`, the
    * binary/string `value` column is parsed against the DDL schema and
    * flattened to top-level columns; the raw fields are kept in a
    * `kafkaValue` struct.
    */
  def decodeValue(df: org.apache.spark.sql.DataFrame, opts: Map[String, String]): org.apache.spark.sql.DataFrame =
    (opts.get("valueSchema"), opts.get("valueFormat")) match {
      case (Some(ddl), Some(format)) =>
        import org.apache.spark.sql.functions._
        require(df.columns.contains("value"), "valueSchema requires a `value` column")
        val raw = col("value").cast("string")
        val parsed = format match {
          case "json" => from_json(raw, ddl, Map.empty[String, String])
          case "csv" => from_csv(raw, org.apache.spark.sql.types.StructType.fromDDL(ddl),
            Map.empty[String, String])
          case other => throw new IllegalArgumentException(
            s"valueFormat must be json|csv, got '$other'")
        }
        val meta = df.columns.filter(_ != "value").map(col)
        df.withColumn("__parsed__", parsed)
          .withColumn("kafkaValue", struct(meta.toSeq: _*))
          .selectExpr("__parsed__.*", "kafkaValue")
      case _ => df
    }

  private def kafkaOnClasspath(ctx: ScriptContext): Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  /** `load mockStream.`batchTable` as s` — replay an existing batch temp
    * view as a stream via MemoryStream (reference: MLSQLMockStream.scala,
    * re-designed on the built-in MemoryStream per SURVEY §2.2). Rows are
    * collected to the driver — TEST fixture scale only, exactly like the
    * reference's mock source.
    */
  private def mockStream(ctx: ScriptContext, table: String,
                         opts: Map[String, String]): DataFrame = {
    val spark = ctx.spark
    val batch = spark.table(table)
    implicit val enc = Encoders.row(batch.schema)
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[Row]
    val rows = batch.collect().toSeq
    val stepSize = opts.get("stepSize").map(_.toInt).getOrElse(rows.size.max(1))
    rows.grouped(stepSize).foreach(chunk => ms.addData(chunk))
    ms.toDF()
  }
}

/** Streaming sink contract for `save` on a streaming table (reference:
  * MLSQLBaseStreamSource.scala:43-88): requires `mode` (append/complete/
  * update) and `checkpointLocation`; `duration` (seconds) sets a
  * ProcessingTime trigger (-1 = continuous availability default);
  * the query is named by `set streamName="..."`.
  *
  * The keyed vparquet sink, spelled `vparquet` or `upsertParquet` (the CDC
  * sink of the reference, MLSQLMultiDelta.scala:33-120), commits each
  * micro-batch as one atomic vparquet manifest version — a batch reader
  * mid-stream always sees a complete snapshot (the stream→table→batch
  * bridge the reference runs through Delta, StreamSubBatchQuerySuite.scala:
  * 30-45). Read the target back with `load vparquet.`. Options:
  *  - `idCols="k1[,k2]"`: keyed merge, newest row per key wins (required by
  *    upsertParquet; without it the vparquet spelling appends);
  *  - `numBuckets="N"`: the merge rewrites only the hash buckets a batch
  *    touches. upsertParquet defaults it per batch: an explicit value wins,
  *    then the table's recorded count, then 64;
  *  - `orderCol`: picks the newest row per key within a batch;
  *  - `tableCol`: routes each row into the table named by its value under
  *    the path ([[UpsertParquet.routeMerge]]; requires idCols);
  *  - `autoCompactEvery="N"`: every N committed versions, fold the per-batch
  *    files back down (the small-file decay of every CDC sink), inline in
  *    the same foreachBatch.
  * The checkpoint location and batch id are recorded in each commit, so an
  * at-least-once re-delivery is recognized and skipped: exactly-once end
  * to end.
  */
object StreamSinks {

  def start(ctx: ScriptContext, df: DataFrame, format: String, path: String,
            opts: Map[String, String], partitionBy: Seq[String]): StreamingQuery = {
    val outputMode = opts.getOrElse("mode",
      throw new IllegalArgumentException(
        "streaming save requires mode=\"append|complete|update\""))
    val checkpoint = opts.getOrElse("checkpointLocation",
      throw new IllegalArgumentException("streaming save requires checkpointLocation"))
    val name = ctx.streamName.getOrElse(
      throw new IllegalArgumentException(
        "streaming scripts require `set streamName=\"...\"` before save"))
    // lifecycle events (started/progress/terminated) recorded to the
    // _mlsql_.streamEvents system table; attach BEFORE the query starts
    StreamEventLog.install(ctx.spark)
    val fmt = format.toLowerCase match {
      case "streamparquet" => "parquet"
      case "streamcsv" => "csv"
      case "streamjson" => "json"
      case other => other
    }
    val w0 = df.writeStream
      .format(fmt)
      .outputMode(outputMode)
      .queryName(name)
      .options(opts - "mode" - "duration" - "checkpointLocation")
      .option("checkpointLocation", ctx.resolvePath(checkpoint))
    val w1 = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    val w2 = opts.get("duration") match {
      case Some(d) if d.toLong >= 0 => w1.trigger(Trigger.ProcessingTime(d.toLong * 1000))
      case _ => w1
    }
    val query = fmt match {
      case "streamjdbc" =>
        // streaming JDBC sink (reference: MLSQLStreamJDBC.scala +
        // spark-3.0.0-adaptor/.../streaming/jdbc.scala): each micro-batch
        // is written through the batch JDBC path — plain append, or a
        // keyed upsert when `idCol` is set (graft.sources.JdbcUpsert).
        // Requires a JDBC driver jar at runtime; option plumbing is the
        // same as the batch jdbc sink.
        val jdbcOpts = new graft.sources.JdbcSource()
          .resolveOptions(path, opts - "mode" - "duration" - "checkpointLocation", ctx.pathPrefix)
        w2.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (jdbcOpts.contains("idCol")) graft.sources.JdbcUpsert.upsert(batch.toDF(), jdbcOpts)
          else batch.write.format("jdbc").mode("append").options(jdbcOpts).save()
        }.start()
      case "upsertparquet" | "vparquet" =>
        // the two spellings differ only in the defaults resolved here
        opts.get("layout").foreach { l =>
          throw new IllegalArgumentException(s"$format layout=\"$l\" is not supported — " +
            "omit layout; the target is a transactional vparquet table, read it " +
            "back with `load vparquet.`")
        }
        val upsert = fmt == "upsertparquet"
        val idCols = opts.get("idCols").map(_.split(",").map(_.trim).toSeq)
        if (upsert && idCols.isEmpty)
          throw new IllegalArgumentException("upsertParquet requires idCols=\"k1[,k2]\"")
        val tableCol = opts.get("tableCol")
        if (tableCol.isDefined && idCols.isEmpty)
          throw new IllegalArgumentException(s"$format tableCol requires idCols=\"k1[,k2]\"")
        val target = ctx.resolvePath(path)
        val orderCol = opts.get("orderCol")
        val numBuckets = opts.get("numBuckets").map(_.toInt)
        val compactEvery = opts.get("autoCompactEvery").map(_.toLong)
        require(compactEvery.forall(_ >= 1), "autoCompactEvery must be >= 1")
        // batch ids restart at 0 per query, so the checkpoint is part of
        // the idempotence key (Delta's txnAppId/txnVersion contract)
        val appId = ctx.resolvePath(checkpoint)
        w2.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          val spark = batch.sparkSession
          val targets = (tableCol, idCols) match {
            case (Some(tc), Some(ks)) => UpsertParquet.routeMerge(batch.toDF(), target, tc, ks,
              numBuckets, orderCol, batchId, appId)
            case (None, Some(ks)) =>
              VParquet.merge(batch.toDF(), target, ks, numBuckets, orderCol,
                txn = Some(batchId), txnAppId = Some(appId), adoptBuckets = upsert)
              Seq(target)
            case _ =>
              VParquet.write(batch.toDF(), target, overwrite = false,
                txn = Some(batchId), txnAppId = Some(appId))
              Seq(target)
          }
          for (n <- compactEvery; t <- targets; v <- VParquet.latestVersion(spark, t))
            if (v > 0 && (v + 1) % n == 0 && VParquet.readManifest(spark, t, v).op != "compact")
              VParquet.compact(spark, t, targetFileSizeMB = 128)
        }.start()
      case f if Set("parquet", "csv", "json", "text", "orc").contains(f) =>
        w2.start(ctx.resolvePath(path))
      case _ => w2.start()
    }
    ctx.streams(name) = query
    query
  }
}

/** Multi-table routing for the keyed vparquet sink. */
object UpsertParquet {

  /** Multi-table CDC routing (reference: MLSQLMultiDelta.scala:56-120 —
    * one stream's rows fan out into several Delta tables by their
    * db/table columns inside a single foreachBatch). Here each row's
    * `tableCol` value picks a vparquet table under `base`; every routed
    * target gets ONE transactional merge per micro-batch, idempotent per
    * (target, txnAppId, batchId), with numBuckets resolved per target
    * from its own head (`adoptBuckets` of [[VParquet.merge]]). A crash
    * between two targets' commits re-delivers the whole batch: the
    * already-committed target sees its txn marker and no-ops while the
    * lagging one catches up — so the sink stays exactly-once PER TABLE
    * even though targets commit sequentially. Route values become
    * directory names and are
    * validated against a conservative charset (no separators, no `..`).
    * Returns the routed tables' paths.
    */
  def routeMerge(batch: org.apache.spark.sql.DataFrame, base: String,
                 tableCol: String, idCols: Seq[String],
                 numBuckets: Option[Int], orderCol: Option[String],
                 batchId: Long, appId: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    require(batch.columns.contains(tableCol),
      s"tableCol '$tableCol' not in stream schema ${batch.columns.mkString(",")}")
    // reused once per routed target — cache the micro-batch, not the source
    val cached = batch.persist()
    try {
      val names = cached.select(col(tableCol).cast("string")).distinct()
        .collect().map(_.getString(0)).sorted
      names.foreach { n =>
        require(n != null, s"tableCol '$tableCol' holds a null route value")
        require(n.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
          s"tableCol value '$n' is not a safe table name")
      }
      names.toSeq.map { name =>
        val sub = cached.filter(col(tableCol).cast("string") === name).drop(tableCol)
        val tgt = base.stripSuffix("/") + "/" + name
        VParquet.merge(sub, tgt, idCols, numBuckets, orderCol,
          txn = Some(batchId), txnAppId = Some(appId), adoptBuckets = true)
        tgt
      }
    } finally cached.unpersist(false)
  }
}
