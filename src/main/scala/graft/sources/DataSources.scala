package graft.sources

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.dsl.ScriptContext

/** Pluggable source/sink registry resolving `load fmt.`path``  and
  * `save t as fmt.`path`` (reference: streamingpro-core/src/main/java/
  * streaming/core/datasource/DataSourceRegistry.scala:30-86 and the impl
  * classes under streaming/core/datasource/impl/).
  *
  * Resolution rule matches the reference: a registered short name wins;
  * anything unregistered falls through to
  * `spark.read.format(fmt).options(...).load(path)` — so every Spark
  * built-in and any DSv2 connector on the classpath works without a
  * registry entry (reference: LoadAdaptor.scala:125-130).
  */
trait GraftSource {
  def shortName: String

  /** Batch read. `path` is already path-prefix-resolved and templated. */
  def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame =
    throw new UnsupportedOperationException(s"source '$shortName' does not support load")

  /** Batch write. */
  def save(ctx: ScriptContext, df: DataFrame, mode: SaveMode, path: String,
           opts: Map[String, String], partitionBy: Seq[String]): Unit =
    throw new UnsupportedOperationException(s"sink '$shortName' does not support save")
}

object DataSourceRegistry {
  private val sources = TrieMap[String, GraftSource]()

  def register(s: GraftSource): Unit = sources.put(s.shortName.toLowerCase, s)
  def lookup(format: String): Option[GraftSource] = sources.get(format.toLowerCase)
  def registeredNames: Seq[String] = sources.keys.toSeq.sorted

  /** (name, kind) rows for the datasource listings (`!show datasources`,
    * `load _mlsql_.`datasources``) — registry entries plus the file formats
    * that resolve through the DataFrameReader fallback. One list so the two
    * surfaces cannot drift; avro is NOT included (no spark-avro jar in this
    * deployment — it would fail with Spark's raw module-missing error).
    */
  def listing: Seq[(String, String)] =
    registeredNames.map(_ -> "registered") ++
      Seq("parquet", "csv", "json", "text", "orc", "binaryFile")
        .map(_ -> "builtin-fallback")

  // built-ins registered once at class-load (same effect as the reference's
  // classpath scan, DataSourceRegistry.scala:83-85, without the scan)
  Seq(new JsonStrSource, new CsvStrSource, new XmlStrSource, new ScriptSource,
    new ConsoleSink, new HiveSource, new JdbcSource, new SystemTableSource,
    new ModelParamsSource, new ModelSource, new ConfSource,
    new UnStructuredSource, new VParquetSource)
    .foreach(register)
  // registry slots for connectors whose jars are not available offline —
  // fail with a clear message instead of a ClassNotFoundException
  // (SURVEY §7: "keep registry slots + clear errors")
  Seq("delta", "es", "mongo", "solr", "hbase", "redis", "carbondata", "crawlersql")
    .foreach(n => register(new UnavailableSource(n)))

  /** Batch load with registry resolution + fallback to the Spark reader,
    * which reuses the schema it inferred for an unchanged file set
    * ([[FileSchemaCache]]).
    */
  def load(ctx: ScriptContext, format: String, path: String,
           opts: Map[String, String]): DataFrame =
    lookup(format) match {
      case Some(s) => s.load(ctx, path, opts)
      case None =>
        FileSchemaCache.load(ctx.spark, format,
          if (path.isEmpty) path else ctx.resolvePath(path), opts)
    }

  /** Batch save with registry resolution + fallback to the Spark writer.
    * `fileNum` repartitions before the write (reference:
    * SaveAdaptor.scala:109-111).
    */
  def save(ctx: ScriptContext, df0: DataFrame, format: String, mode: SaveMode,
           path: String, opts: Map[String, String], partitionBy: Seq[String]): Unit = {
    val df = opts.get("fileNum").map(n => df0.repartition(n.toInt)).getOrElse(df0)
    lookup(format) match {
      case Some(s) => s.save(ctx, df, mode, path, opts, partitionBy)
      case None =>
        val w0 = df.write.format(format).mode(mode).options(opts - "fileNum")
        val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
        if (path.isEmpty) w.save() else w.save(ctx.resolvePath(path))
    }
  }
}

/** `load jsonStr.`varName`` — parse a `set` variable holding JSON lines
  * (reference: MLSQLJSonStr.scala:16-22). The variable body is split on
  * newlines; driver-local data, intended for tiny literal fixtures.
  */
final class JsonStrSource extends GraftSource {
  override def shortName = "jsonstr"
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame = {
    val text = ctx.env.getOrElse(path,
      throw new IllegalArgumentException(s"jsonStr: no `set $path = ...` variable in scope"))
    import ctx.spark.implicits._
    ctx.spark.read.json(ctx.spark.createDataset(text.split("\n").toSeq.filter(_.trim.nonEmpty)))
  }
}

/** `load csvStr.`varName`` (reference: MLSQLCsvStr.scala). */
final class CsvStrSource extends GraftSource {
  override def shortName = "csvstr"
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame = {
    val text = ctx.env.getOrElse(path,
      throw new IllegalArgumentException(s"csvStr: no `set $path = ...` variable in scope"))
    import ctx.spark.implicits._
    ctx.spark.read.options(opts)
      .csv(ctx.spark.createDataset(text.split("\n").toSeq.filter(_.trim.nonEmpty)))
  }
}

/** `load xmlStr.`varName` [where rowTag="row"]` — parse a `set` variable
  * holding an XML document through Spark 4's built-in XML parser (the
  * file-path `xml` format needs no registration: it resolves through the
  * DataFrameReader fallback like every other built-in). Sibling of
  * jsonStr/csvStr (reference: MLSQLJSonStr.scala:16-22 pattern).
  */
final class XmlStrSource extends GraftSource {
  override def shortName = "xmlstr"
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame = {
    val text = ctx.env.getOrElse(path,
      throw new IllegalArgumentException(s"xmlStr: no `set $path = ...` variable in scope"))
    // the Dataset[String] overload treats each string as ONE row fragment;
    // a variable holds a whole document, so stage it as a file and let the
    // path reader split on rowTag (driver-local tiny fixtures, like jsonStr)
    val file = XmlStrSource.stage(path, text)
    ctx.spark.read.options(opts)
      .option("rowTag", opts.getOrElse("rowTag", "row"))
      .xml(file)
  }
}

object XmlStrSource {
  // one JVM-wide staging dir, files content-addressed: re-running the same
  // script re-uses its staged file instead of leaking a fresh temp dir per
  // load, while a lazily-evaluated earlier DataFrame keeps reading ITS
  // content even after the variable changes; everything dies with the JVM
  private lazy val stagingDir = {
    val d = java.nio.file.Files.createTempDirectory("xmlstr")
    d.toFile.deleteOnExit()
    d
  }

  private def stage(name: String, text: String): String = synchronized {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val file = stagingDir.resolve(s"$name-$digest.xml")
    if (!java.nio.file.Files.exists(file)) {
      java.nio.file.Files.write(file, text.getBytes("UTF-8"))
      file.toFile.deleteOnExit()
    }
    file.toString
  }
}

/** `load script.`varName`` — one-row (content) table holding a script text
  * (reference: MLSQLScript.scala).
  */
final class ScriptSource extends GraftSource {
  override def shortName = "script"
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame = {
    val text = ctx.env.getOrElse(path,
      throw new IllegalArgumentException(s"script: no `set $path = ...` variable in scope"))
    import ctx.spark.implicits._
    Seq(text).toDF("content")
  }
}

/** `save t as console.`` ` — print up to `numRows` (default 20) rows; batch
  * analog of the reference's console sink (MLSQLConsole.scala).
  */
final class ConsoleSink extends GraftSource {
  override def shortName = "console"
  override def save(ctx: ScriptContext, df: DataFrame, mode: SaveMode, path: String,
                    opts: Map[String, String], partitionBy: Seq[String]): Unit =
    df.show(opts.getOrElse("numRows", "20").toInt, truncate = false)
}

/** `load hive.`db.table`` / `save t as hive.`db.table``
  * (reference: MLSQLHive.scala).
  */
final class HiveSource extends GraftSource {
  override def shortName = "hive"
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame =
    ctx.spark.table(path)

  /** `bucketBy="col[,col]"` + `numBuckets="N"` [+ `sortBy`] write a
    * BUCKETED table — repeated joins/aggregations on the bucket key then
    * read co-located data with NO shuffle (the 100 TB answer to hot join
    * keys that are known ahead of time; see ScaleSpec's plan audit).
    */
  override def save(ctx: ScriptContext, df: DataFrame, mode: SaveMode, path: String,
                    opts: Map[String, String], partitionBy: Seq[String]): Unit = {
    val passthrough = opts - "bucketBy" - "numBuckets" - "sortBy"
    val w0 = df.write.mode(mode).options(passthrough)
    val w1 = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    val w2 = opts.get("bucketBy") match {
      case Some(cols) =>
        val bucketCols = cols.split(",").map(_.trim)
        val n = opts.getOrElse("numBuckets", "8").toInt
        val b = w1.bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        opts.get("sortBy") match {
          case Some(sc) =>
            val sortCols = sc.split(",").map(_.trim)
            b.sortBy(sortCols.head, sortCols.tail: _*)
          case None => b
        }
      case None => w1
    }
    w2.saveAsTable(path)
  }
}

/** Placeholder for a connector whose jar is not on the offline classpath:
  * the format name resolves (so scripts parse and error messages are
  * actionable) but load/save explain what is missing.
  */
final class UnavailableSource(override val shortName: String) extends GraftSource {
  private def unavailable = throw new UnsupportedOperationException(
    s"source '$shortName' requires its connector jar, which is not bundled " +
      "in this offline build; add the jar to the classpath to enable it" +
      (if (shortName == "delta")
        " — or use `vparquet`, the built-in versioned-parquet table " +
          "(time travel via versionAsOf/timestampAsOf, keyed MERGE via idCols)"
      else ""))
  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame =
    unavailable
  override def save(ctx: ScriptContext, df: DataFrame, mode: SaveMode, path: String,
                    opts: Map[String, String], partitionBy: Seq[String]): Unit =
    unavailable
}

/** `connect jdbc where url="..." ... as db; load jdbc.`db.table` as t;`
  * — resolves `connect` aliases and the `directQuery` passthrough
  * (reference: MLSQLJDBC.scala + MLSQLDirectJDBC.scala:54-68: directQuery
  * becomes `dbtable = "(<query>) temp"`). Requires a JDBC driver on the
  * classpath at runtime; option mapping is testable without one.
  */
final class JdbcSource extends GraftSource {
  override def shortName = "jdbc"

  /** Merge connect-alias options with statement options; statement wins.
    * `ns` scopes the alias lookup to the registering tenant (empty = the
    * shared/global namespace).
    */
  def resolveOptions(path: String, opts: Map[String, String],
                     ns: String = ""): Map[String, String] = {
    val dot = path.indexOf('.')
    val (alias, table) = if (dot < 0) ("", path) else (path.substring(0, dot), path.substring(dot + 1))
    val base = if (alias.isEmpty) Map.empty[String, String]
      else graft.dsl.ConnectMeta.get(ns, "jdbc", alias).getOrElse(
        throw new IllegalArgumentException(s"jdbc: no `connect jdbc ... as $alias` in scope"))
    val merged = base ++ opts
    merged.get("directQuery") match {
      case Some(q) => merged - "directQuery" + ("query" -> q)
      case None if table.nonEmpty && !merged.contains("dbtable") && !merged.contains("query") =>
        merged + ("dbtable" -> table)
      case None => merged
    }
  }

  override def load(ctx: ScriptContext, path: String, opts: Map[String, String]): DataFrame =
    ctx.spark.read.format("jdbc").options(resolveOptions(path, opts, ctx.pathPrefix)).load()

  /** With `idCol` set the write is an UPSERT executed row-by-row through a
    * foreachPartition JDBC batch (reference: MLSQLJDBC.scala upsert via
    * UpsertUtils); otherwise a plain Spark jdbc write.
    */
  override def save(ctx: ScriptContext, df: DataFrame, mode: SaveMode, path: String,
                    opts: Map[String, String], partitionBy: Seq[String]): Unit = {
    val resolved = resolveOptions(path, opts, ctx.pathPrefix)
    resolved.get("idCol") match {
      case Some(_) => JdbcUpsert.upsert(df, resolved)
      case None =>
        df.write.format("jdbc").mode(mode).options(resolved).save()
    }
  }
}

/** Keyed JDBC upsert: dialect-aware statement generation + executor-side
  * batched execution (reference: MLSQLJDBC.scala upsert via UpsertUtils).
  * Engines with a native upsert clause get one statement per row batch;
  * everything else (incl. embedded Derby, which the tests run end-to-end)
  * gets the standard-SQL update-then-insert fallback.
  */
object JdbcUpsert {

  /** Build the dialect's upsert statement for `table(cols)` keyed by
    * `idCols` — MySQL `ON DUPLICATE KEY UPDATE`, PostgreSQL/SQLite
    * `ON CONFLICT ... DO UPDATE`.
    */
  def buildStatement(url: String, table: String, cols: Seq[String],
                     idCols: Seq[String]): String = {
    val collist = cols.mkString(", ")
    val params = cols.map(_ => "?").mkString(", ")
    val nonKey = cols.filterNot(idCols.contains)
    if (url.startsWith("jdbc:mysql")) {
      val updates = nonKey.map(c => s"$c = VALUES($c)").mkString(", ")
      s"INSERT INTO $table ($collist) VALUES ($params) ON DUPLICATE KEY UPDATE $updates"
    } else {
      val updates = nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", ")
      val conflict = idCols.mkString(", ")
      s"INSERT INTO $table ($collist) VALUES ($params) ON CONFLICT ($conflict) DO UPDATE SET $updates"
    }
  }

  /** URLs with a native single-statement upsert clause. Anything else goes
    * through the standard-SQL update-then-insert fallback.
    */
  private def hasNativeUpsert(url: String): Boolean =
    url.startsWith("jdbc:mysql") || url.startsWith("jdbc:postgresql") ||
      url.startsWith("jdbc:sqlite")

  def upsert(df: DataFrame, opts: Map[String, String]): Unit = {
    val url = opts("url")
    val table = opts.getOrElse("dbtable",
      throw new IllegalArgumentException("jdbc upsert requires dbtable"))
    val idCols = opts("idCol").split(",").map(_.trim).toSeq
    val cols = df.columns.toSeq
    val props = opts - "idCol"
    if (hasNativeUpsert(url))
      runBatched(df, url, props, buildStatement(url, table, cols, idCols),
        row => cols.indices.map(row.get))
    else updateThenInsert(df, url, props, table, cols, idCols)
  }

  private def connect(url: String, props: Map[String, String]): java.sql.Connection =
    java.sql.DriverManager.getConnection(url, {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      p
    })

  private def runBatched(df: DataFrame, url: String, props: Map[String, String],
                         sql: String, bind: org.apache.spark.sql.Row => Seq[Any]): Unit =
    df.rdd.foreachPartition { rows =>
      val conn = connect(url, props)
      try {
        val stmt = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { row =>
          bind(row).zipWithIndex.foreach { case (v, i) => stmt.setObject(i + 1, v) }
          stmt.addBatch()
          n += 1
          if (n % 1000 == 0) stmt.executeBatch()
        }
        stmt.executeBatch()
      } finally conn.close()
    }

  /** Standard-SQL upsert for engines with no native clause (Derby, DB2,
    * Oracle without MERGE-able sources): batch every row as an UPDATE,
    * read the per-row update counts, and batch an INSERT for exactly the
    * rows no UPDATE touched — two statements per 1000-row batch instead
    * of a round trip per row. Identifiers are dialect-quoted (Spark-
    * written tables have case-sensitive lowercase columns on Derby).
    * Rows whose driver reports SUCCESS_NO_INFO are treated as updated —
    * the engines routed here return real counts.
    */
  private def updateThenInsert(df: DataFrame, url: String,
                               props: Map[String, String], table: String,
                               cols: Seq[String], idCols: Seq[String]): Unit = {
    val q: String => String =
      org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier
    val nonKey = cols.filterNot(idCols.contains)
    require(nonKey.nonEmpty, "jdbc upsert requires a non-key column to update")
    val updateSql = s"UPDATE $table SET ${nonKey.map(c => s"${q(c)} = ?").mkString(", ")}" +
      s" WHERE ${idCols.map(c => s"${q(c)} = ?").mkString(" AND ")}"
    val insertSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")})" +
      s" VALUES (${cols.map(_ => "?").mkString(", ")})"
    val colIdx = cols.zipWithIndex.toMap
    val updOrder = (nonKey ++ idCols).map(colIdx)
    val keyIdx = idCols.map(colIdx)
    // one partition owns a key: without this, two tasks carrying the same
    // key can both read update-count 0 and both insert (the single-
    // statement native paths are per-row atomic; this path is not)
    val byKey = df.repartition(idCols.map(org.apache.spark.sql.functions.col): _*)
    byKey.rdd.foreachPartition { rows =>
      val conn = connect(url, props)
      try {
        val upd = conn.prepareStatement(updateSql)
        val ins = conn.prepareStatement(insertSql)
        val pending = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        def flush(): Unit = if (pending.nonEmpty) {
          // last occurrence of a key wins within the batch — two UPDATEs
          // for a key not yet in the table would both count 0 and insert
          // the key twice
          val deduped = pending.zipWithIndex
            .groupBy { case (row, _) => keyIdx.map(row.get) }
            .values.map(_.maxBy(_._2)._1).toSeq
          deduped.foreach { row =>
            updOrder.zipWithIndex.foreach { case (src, i) =>
              upd.setObject(i + 1, row.get(src))
            }
            upd.addBatch()
          }
          val counts = upd.executeBatch()
          var inserts = 0
          counts.zip(deduped).foreach { case (c, row) =>
            if (c == 0) {
              cols.indices.foreach(i => ins.setObject(i + 1, row.get(i)))
              ins.addBatch()
              inserts += 1
            }
          }
          if (inserts > 0) ins.executeBatch()
          pending.clear()
        }
        rows.foreach { row =>
          pending += row
          if (pending.size >= 1000) flush()
        }
        flush()
      } finally conn.close()
    }
  }
}
