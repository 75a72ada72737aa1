package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Reuse of the schema Spark inferred for an unchanged file set, so a
  * repeated `load parquet.`p`` (or orc/json/csv/xml) launches no inference
  * job: a parquet footer job, or for csv/json a scan of the data.
  *
  * - **Key:** session UUID, lower-cased format, resolved path, reader
  *   options and the session's SQL conf entries. Two sessions (two
  *   `Engine` tenants) never share an entry; a changed option or conf
  *   (`mergeSchema`, `samplingRatio`, `spark.sql.caseSensitive`, …) gets
  *   its own.
  * - **Value:** a fingerprint of the file set (path, length, modification
  *   time of every file the relation lists, sorted by path) and `df.schema`
  *   as the inferring load returned it.
  * - **The listing is never cached.** A hit still loads through Spark with
  *   `reader.schema(cached)`, which lists the files as every load does; the
  *   fingerprint is then taken from that relation's own file index (no
  *   second listing). A file added, removed, rewritten or touched changes
  *   the fingerprint: the load re-infers and replaces the entry. A hit
  *   whose schema differs from the cached one (a partition column also
  *   stored in the data files moves to the end under a given schema)
  *   re-infers and drops the entry.
  * - Only a load whose plan is a `LogicalRelation` over a
  *   `HadoopFsRelation` is recorded. Never cached: registered sources and
  *   streaming formats (both resolved before the reader fallback),
  *   text/binaryFile (fixed schema), and a load whose options already
  *   carry a schema.
  *
  * At scale the fingerprint is O(files), the same order as the listing
  * Spark already does per load, while the inference it saves is a footer
  * job (parquet/orc) or a full data scan (csv/json without a sample).
  */
object FileSchemaCache {
  private val MaxEntries = 256
  private val inferredFormats = Set("parquet", "orc", "json", "csv", "xml")

  private final case class Key(session: String, format: String, path: String,
                               options: Map[String, String], conf: Map[String, String])
  private final case class Entry(fingerprint: String, schema: StructType)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size > MaxEntries
  }

  private def cacheable(format: String, opts: Map[String, String]): Boolean =
    inferredFormats.contains(format.toLowerCase) &&
      !opts.keys.exists(_.equalsIgnoreCase("schema"))

  /** `spark.read.format(format).options(opts).load(path)` (no path when
    * empty), with the inferred schema reused while the file set is unchanged.
    */
  def load(spark: SparkSession, format: String, path: String,
           opts: Map[String, String]): DataFrame = {
    def read(schema: Option[StructType]): DataFrame = {
      val r0 = spark.read.format(format).options(opts)
      val r = schema.fold(r0)(r0.schema)
      if (path.isEmpty) r.load() else r.load(path)
    }
    if (!cacheable(format, opts)) return read(None)
    val key = Key(org.apache.spark.sql.graftshim.PlanShim.sessionUUID(spark),
      format.toLowerCase, path, opts, spark.conf.getAll)
    get(key).map(e => e -> read(Some(e.schema))) match {
      case Some((e, df)) if df.schema != e.schema => remove(key); read(None)
      case Some((e, df)) if fingerprint(df).contains(e.fingerprint) => df
      case _ =>
        val df = read(None)
        fingerprint(df).foreach(fp => put(key, Entry(fp, df.schema)))
        df
    }
  }

  /** Digest of the relation's listed files, or None when the plan is not a
    * file relation with a listing index.
    */
  private def fingerprint(df: DataFrame): Option[String] =
    Some(df.queryExecution.analyzed)
      .collect { case l: LogicalRelation => l.relation }
      .collect { case fs: HadoopFsRelation => fs.location }
      .collect { case idx: PartitioningAwareFileIndex =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        idx.allFiles().sortBy(_.getPath.toString).foreach { f =>
          md.update(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n".getBytes("UTF-8"))
        }
        md.digest().map("%02x".format(_)).mkString
      }

  private def get(k: Key): Option[Entry] = entries.synchronized(Option(entries.get(k)))
  private def put(k: Key, e: Entry): Unit = entries.synchronized(entries.put(k, e))
  private def remove(k: Key): Unit = entries.synchronized(entries.remove(k))
}
