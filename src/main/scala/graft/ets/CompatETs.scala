package graft.ets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dsl.ScriptContext

/** Reference-name compatibility ETs — the SURVEY §2.4 rows not already
  * covered by [[UtilityETs]]/[[MlETs]]/[[PipelineETs]]: `Kill`, `JDBC`
  * (`!jdbc`), `Map`→MapValues alias territory, `VecMapInPlace`,
  * `Word2ArrayInPlace`, `FeatureExtractInPlace`, `RawSimilarInPlace`,
  * `ReduceFeaturesInPlace`, `EngineResource` (`!resource`),
  * `RepartitionExt`. Each is re-designed Spark-first; reference citations
  * inline.
  */
object CompatETs {
  def all: Seq[ET] = Seq(KillET, JdbcCommandET, VecMapInPlaceET,
    Word2ArrayInPlaceET, FeatureExtractInPlaceET, RawSimilarInPlaceET,
    ReduceFeaturesInPlaceET, EngineResourceET, RepartitionExtET,
    TreeBuildExtET, CorpusExplainInPlaceET,
    MapET, AutoIncrementKeyExtET, HashTfIdfET, TfIdfET,
    CommunityBasedSimilityInPlaceET, ModelExplainInPlaceET,
    TokenAnalysisET, TokenExtractET, NothingET, ModelCommandET,
    VParquetCommandET, EmptyTableET, LastCommandET, SaveBinaryAsFileET,
    SendMessageET)
}

/** `!vtable history <path>` / `!vtable vacuum <path> <retainVersions>` —
  * management commands for [[graft.sources.VParquet]] versioned tables
  * (the offline analog of the reference's `!delta history/compact`,
  * DeltaCommandWrapper.scala / DeltaCompactionCommand.scala).
  */
object VParquetCommandET extends NoPathET {
  override def name = "VParquetCommand"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val args = params.getOrElse("parameters", "").trim.split("\\s+").filter(_.nonEmpty)
    require(args.nonEmpty,
      "usage: !vtable history <path> | !vtable compact <path> <targetFileSizeMB> " +
        "| !vtable vacuum <path> <retainVersions> | !vtable restore <path> <version>")
    args(0) match {
      case "history" =>
        require(args.length == 2, "usage: !vtable history <path>")
        graft.sources.VParquet.history(ctx.spark, ctx.resolvePath(args(1)))
      case "compact" =>
        require(args.length == 3, "usage: !vtable compact <path> <targetFileSizeMB>")
        val v = graft.sources.VParquet
          .compact(ctx.spark, ctx.resolvePath(args(1)), args(2).toInt)
        UtilityETs.oneRowTable(ctx.spark, "compacted_version" -> v.toString)
      case "vacuum" =>
        require(args.length == 3, "usage: !vtable vacuum <path> <retainVersions>")
        val (droppedManifests, deletedFiles) = graft.sources.VParquet
          .vacuum(ctx.spark, ctx.resolvePath(args(1)), args(2).toInt)
        UtilityETs.oneRowTable(ctx.spark,
          "dropped_versions" -> droppedManifests.toString,
          "deleted_files" -> deletedFiles.toString)
      case "zorder" =>
        // OPTIMIZE ZORDER analog: rewrite the snapshot along the Z-curve
        // of the given columns so filters on any of them skip files
        require(args.length == 4,
          "usage: !vtable zorder <path> <targetFileSizeMB> <col1,col2,...>")
        val v = graft.sources.VParquet.compact(ctx.spark,
          ctx.resolvePath(args(1)), args(2).toInt,
          zorderBy = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        UtilityETs.oneRowTable(ctx.spark, "zordered_version" -> v.toString)
      case "restore" =>
        // RESTORE TABLE ... TO VERSION AS OF analog: new head = the
        // target version's snapshot, by reference (manifest-only commit)
        require(args.length == 3, "usage: !vtable restore <path> <version>")
        val v = graft.sources.VParquet
          .restore(ctx.spark, ctx.resolvePath(args(1)), args(2).toLong)
        UtilityETs.oneRowTable(ctx.spark, "restored_to_version" -> v.toString)
      case "clone" =>
        // SHALLOW CLONE analog: dst v0 references src's files absolutely
        require(args.length == 3 || args.length == 4,
          "usage: !vtable clone <src> <dst> [version]")
        graft.sources.VParquet.shallowClone(ctx.spark,
          ctx.resolvePath(args(1)), ctx.resolvePath(args(2)),
          if (args.length == 4) Some(args(3).toLong) else None)
        UtilityETs.oneRowTable(ctx.spark, "cloned_to" -> args(2))
      case other => throw new IllegalArgumentException(
        s"!vtable supports history|compact|vacuum|zorder|restore|clone, got '$other'")
    }
  }
}

/** `run t as NothingET.``` — the reference's no-op placeholder ET
  * (tech/mlsql/ets/NothingET.scala: returns a one-empty-string table).
  */
object NothingET extends NoPathET {
  override def name = "NothingET"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Seq("").toDF("value")
  }
}

/** `!model history /model/path` — list a saved spark.ml artifact's
  * self-description (reference: tech/mlsql/ets/ModelCommand.scala, which
  * walks its `_model_N/meta/0` version layout; this engine saves models
  * through the standard ml writer, so "history" is the artifact's
  * `metadata/` record — one row per saved version dir when the path
  * contains several).
  */
object ModelCommandET extends ET {
  override def name = "ModelCommand"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    params.getOrElse("action", "history") match {
      case "history" | "params" =>
        graft.sources.ModelMeta.read(ctx.spark, path)
          .select(lit(path).as("modelPath"), col("class"), col("uid"),
            col("sparkVersion"), to_json(col("paramMap")).as("params"))
      case other => throw new IllegalArgumentException(
        s"!model supports history|params, got '$other'")
    }
  }
}

/** `run edges as TreeBuildExt.`` where idCol="id" and parentIdCol="pid"
  * [and treeType="treePerRow|nodeTreePerRow"]` — tree analytics over an
  * (id, parentId) edge table (reference: SQLTreeBuildExt.scala:41-160 +
  * TreeBuildExtSpec).
  *
  * Re-designed distributed: the reference COLLECTS every edge to the
  * driver and builds nested objects recursively — a dead end past
  * dimension scale. Here levels and descendant sets propagate through
  * depth-bounded iterative equi-joins (O(depth) rounds, convergence
  * checked), and `treePerRow` returns one row per ROOT with its subtree
  * height and flat descendant array (the reference's depth-dependent
  * nested-JSON schema is deliberately not reproduced — a recursive schema
  * cannot be stable across rows in a typed engine); `nodeTreePerRow`
  * matches the reference: every node with its subtree height + all
  * transitive descendants.
  */
object TreeBuildExtET extends NoPathET {
  override def name = "TreeBuildExt"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val idCol = params.getOrElse("idCol",
      throw new IllegalArgumentException("TreeBuildExt requires idCol"))
    val parentCol = params.getOrElse("parentIdCol",
      throw new IllegalArgumentException("TreeBuildExt requires parentIdCol"))
    val topMark = params.get("topLevelMark")
    // honor the user's bound (reference default 1000); transitive closure
    // always converges in ≤ longest-path rounds, so this only trips on
    // trees deeper than the configured limit
    val maxDepth = params.getOrElse("recurringDependencyBreakTimes", "1000").toInt
    val pairs = df.select(col(idCol).cast("string").as("c"),
      col(parentCol).cast("string").as("p"))
    val rootParent = topMark match {
      case Some(m) => col("p").isNull || col("p") === m
      case None => col("p").isNull
    }
    val edges = pairs
      .filter(col("c") =!= coalesce(col("p"), lit("")))
      .filter(!rootParent).distinct()

    // descendants by upward propagation: desc := direct-children ∪
    // desc-of-children, iterated to a (depth-bounded, checked) fixpoint
    var desc = edges.select(col("p").as("id"), col("c").as("d")).distinct().cache()
    var size = desc.count()
    var grew = true
    var iter = 0
    while (grew && iter < maxDepth) {
      val next = desc
        .union(edges.join(desc.select(col("id").as("c"), col("d")), "c")
          .select(col("p").as("id"), col("d")))
        .distinct().cache()
      val nextSize = next.count()
      grew = nextSize > size
      desc.unpersist()
      desc = next
      size = nextSize
      iter += 1
    }
    require(iter < maxDepth || !grew,
      s"TreeBuildExt: dependency cycle deeper than $maxDepth levels")

    // node set = every id appearing as a child OR as a real (non-marker)
    // parent; a node is a root iff it is never a child of a real edge —
    // this keeps roots that only occur in the parent column, and collapses
    // nodes with mixed root/non-root rows to ONE row
    val childIds = edges.select(col("c").as("id")).distinct()
    val nodes = pairs.select(col("c").as("id"))
      .union(edges.select(col("p").as("id"))).distinct()
      .join(childIds.withColumn("__child__", lit(true)), Seq("id"), "left")
      .select(col("id"), col("__child__").isNull.as("is_root"))
    // subtree height = longest root-ward chain inside the descendant set:
    // level(x) = number of iterations x kept acquiring new descendants ≈
    // recompute directly: level = max path length below x
    val heights = levelsOf(edges, maxDepth)
    val withLevel = nodes
      .join(heights, Seq("id"), "left")
      .withColumn("level", coalesce(col("level"), lit(0)))
      .join(desc.groupBy("id").agg(collect_set(col("d")).as("children")), Seq("id"), "left")
      .withColumn("children", coalesce(col("children"), array().cast("array<string>")))
    val out = params.getOrElse("treeType", "treePerRow") match {
      case "treePerRow" => withLevel.filter(col("is_root")).drop("is_root")
      case "nodeTreePerRow" => withLevel.drop("is_root")
      case other => throw new IllegalArgumentException(
        s"treeType must be treePerRow|nodeTreePerRow, got '$other'")
    }
    out.select(col("id"), col("level"), col("children"))
  }

  /** level(x) = subtree height: 0 for leaves, else 1 + max(children). */
  private def levelsOf(edges: DataFrame, maxDepth: Int): DataFrame = {
    var levels = edges.select(col("p").as("id")).union(edges.select(col("c").as("id")))
      .distinct().withColumn("level", lit(0)).cache()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxDepth) {
      val parentLevel = edges.join(levels.select(col("id").as("c"), col("level")), "c")
        .groupBy(col("p").as("id")).agg(max(col("level") + 1).as("child_based"))
      val next = levels.join(parentLevel, Seq("id"), "left")
        .select(col("id"),
          greatest(col("level"), coalesce(col("child_based"), col("level"))).as("level"))
        .cache()
      changed = next.join(levels.select(col("id"), col("level").as("prev")), "id")
        .filter(col("level") =!= col("prev")).count()
      levels.unpersist()
      levels = next
      iter += 1
    }
    levels
  }
}

/** `train corpus as CorpusExplainInPlace.`path` where labelCol="label"` —
  * classification-corpus label distribution: per-label count, inverse
  * weight (total/labelCount, the class-weight input), percent, total
  * (reference: SQLCorpusExplainInPlace.scala:29-56; one aggregation, and
  * the result is RETURNED as well as saved when a path is given).
  */
object CorpusExplainInPlaceET extends ET {
  override def name = "CorpusExplainInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val labelCol = params.getOrElse("labelCol",
      throw new IllegalArgumentException("CorpusExplainInPlace requires labelCol"))
    val stats = df.groupBy(col(labelCol))
      .agg(count(lit(1)).as("labelCount"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("total"))))
      .withColumn("weight", col("total").cast("double") / col("labelCount"))
      .withColumn("percent", col("labelCount").cast("double") / col("total"))
      .select(col(labelCol), col("labelCount"), col("weight"), col("percent"), col("total"))
    if (path.nonEmpty) stats.write.mode("overwrite").parquet(path + "/data")
    stats
  }
}

/** `run command as Kill.`jobName`` — reference statement form of `!kill`
  * (SQLMLSQLJobExt); same JobManager cancellation as JobCommand.
  */
object KillET extends NoPathET {
  override def name = "Kill"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val target = if (path.nonEmpty) path else params.getOrElse("jobName", "")
    require(target.nonEmpty, "Kill requires a job name: Kill.`jobName`")
    graft.dsl.JobManager.kill(spark, target, ctx.pathPrefix)
      .toDF("cancelled_group")
  }
}

/** `run command as JDBC.`alias` where driver-statement-0="..."` — execute
  * raw DDL/DML statements on a remote database through the `connect`
  * alias's options (reference: SQLJDBC.scala / `!jdbc`). Statements run in
  * index order on the driver via java.sql.DriverManager; requires the JDBC
  * driver jar at runtime (same gating as the jdbc datasource — the offline
  * build fails with the driver-not-found error at execute).
  */
object JdbcCommandET extends NoPathET {
  override def name = "JDBC"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val opts = graft.dsl.ConnectMeta.get(ctx.pathPrefix, "jdbc", path)
      .map(_ ++ params).getOrElse(params)
    val url = opts.getOrElse("url",
      throw new IllegalArgumentException(
        s"JDBC ET needs a `connect jdbc ... as $path` alias or a url option"))
    val statements = opts.keys.filter(_.startsWith("driver-statement-")).toSeq
      .sortBy(k => k.stripPrefix("driver-statement-").toInt)
      .map(opts)
    require(statements.nonEmpty, "JDBC ET requires driver-statement-0..N options")
    opts.get("driver").foreach(Class.forName)
    val props = new java.util.Properties()
    opts.get("user").foreach(props.setProperty("user", _))
    opts.get("password").foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val results = statements.map { s =>
        val st = conn.createStatement()
        try { s -> st.execute(s) } finally st.close()
      }
      results.map { case (s, hadResultSet) => (s, hadResultSet) }
        .toDF("statement", "had_result_set")
    } finally conn.close()
  }
}

/** `run t as VecMapInPlace.`` where inputCol="m"` — map<string,double> →
  * ml Vector over the (collected, dimension-sized) global key vocabulary
  * (reference: SQLVecMapInPlace.scala). One distinct-keys pass builds the
  * index; the mapping itself is per-row.
  */
object VecMapInPlaceET extends NoPathET {
  override def name = "VecMapInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "feature")
    val keys = df.select(explode(map_keys(col(inputCol))).as("k"))
      .distinct().orderBy("k").collect().map(_.getString(0))
    val index = keys.zipWithIndex.toMap
    val bc = ctx.spark.sparkContext.broadcast(index)
    val toVec = udf { (m: Map[String, Double]) =>
      if (m == null) null
      else {
        val idx = bc.value
        val pairs = m.toSeq.flatMap { case (k, v) => idx.get(k).map(_ -> v) }
          .sortBy(_._1)
        org.apache.spark.ml.linalg.Vectors.sparse(idx.size, pairs)
      }
    }
    df.withColumn(inputCol, toVec(col(inputCol)))
  }
}

/** `run t as Word2ArrayInPlace.`` where inputCol="text"` — segment text to
  * a token array (reference: SQLWord2ArrayInPlace.scala, which routes
  * through the ansj segmenter; here [[graft.functions.UDFPack.segment]] —
  * ansj reflectively when present, deterministic CJK/whitespace fallback
  * otherwise).
  */
object Word2ArrayInPlaceET extends NoPathET {
  override def name = "Word2ArrayInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "text")
    val seg = udf((s: String) => graft.functions.UDFPack.segment(s))
    df.withColumn(inputCol, seg(col(inputCol)))
  }
}

/** `run docs as FeatureExtractInPlace.`` where inputCol="doc"` — per-row
  * raw-text features (reference: SQLFeatureExtractInPlace.scala:40-120:
  * phone/email/url/qq counts, length, blank/chinese/punct percents).
  * Pure native expressions — no UDF, no shuffle.
  */
object FeatureExtractInPlaceET extends NoPathET {
  override def name = "FeatureExtractInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val c = col(params.getOrElse("inputCol", "doc"))
    val len = length(c)
    def count(pattern: String) = size(regexp_extract_all(c, lit(pattern), lit(0)))
    df.withColumn("phone", count("1[3-9]\\d{9}"))
      .withColumn("email", count("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
      .withColumn("url", count("https?://[\\w./?=&%-]+"))
      .withColumn("length", len)
      .withColumn("blank_percent", round(
        size(regexp_extract_all(c, lit("\\s"), lit(0))) * lit(100.0) / greatest(len, lit(1)), 2))
      .withColumn("chinese_percent", round(
        size(regexp_extract_all(c, lit("[\\x{4e00}-\\x{9fa5}]"), lit(0))) * lit(100.0) / greatest(len, lit(1)), 2))
      .withColumn("punct_percent", round(
        size(regexp_extract_all(c, lit("[\\p{Punct}]"), lit(0))) * lit(100.0) / greatest(len, lit(1)), 2))
  }
}

/** `run docs as RawSimilarInPlace.`` where idCol="doc_id" and
  * textCol="text" [and threshold="0.8"]` — mark near-duplicate GROUPS: a
  * `__group__` column holding the component-min id of each doc's near-dup
  * cluster (its own id when unique). Reference: SQLRawSimilarInPlace.scala
  * (pairwise compare inside categories); re-designed on the MinHash-LSH
  * pair generation + connected components, which is the shape that
  * survives 100 TB.
  */
object RawSimilarInPlaceET extends NoPathET {
  override def name = "RawSimilarInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val idCol = params.getOrElse("idCol", "doc_id")
    val textCol = params.getOrElse("textCol", "text")
    val threshold = params.getOrElse("threshold", "0.8").toDouble
    val n = params.getOrElse("ngram", "3").toInt
    // cached for the pair computation (4 reads through the banded/verify
    // joins); Components.labels materializes eagerly, so the returned lazy
    // plan no longer references the shingles — see DedupET's minhash path
    val sh = graft.operators.dedup.TextDedup.shingles(
      df.select(col(idCol), col(textCol)), idCol, textCol, n).cache()
    try {
      val pairs = graft.operators.dedup.TextDedup.minHashSelfJoin(sh, threshold)
      val labels = graft.operators.dedup.Components.labels(pairs)
        .select(col("id").as(idCol), col("label").as("__group__"))
      df.join(labels, Seq(idCol), "left")
        .withColumn("__group__", coalesce(col("__group__"), col(idCol)))
    } finally sh.unpersist()
  }
}

/** `run t as ReduceFeaturesInPlace.`` where inputCol="features" and
  * k="8"` — PCA dimensionality reduction in place (reference:
  * SQLReduceFeaturesInPlace — re-expressed on spark.ml PCA).
  */
object ReduceFeaturesInPlaceET extends NoPathET {
  override def name = "ReduceFeaturesInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "features")
    val k = params.getOrElse("k", "8").toInt
    val pca = new org.apache.spark.ml.feature.PCA()
      .setInputCol(inputCol).setOutputCol("__reduced__").setK(k)
      .fit(df)
    pca.transform(df).drop(inputCol).withColumnRenamed("__reduced__", inputCol)
  }
}

/** `!resource` — report the engine's compute resources (reference:
  * EngineResource/`!resource` dynamically resizes executors via the
  * cluster manager; local mode can only REPORT, and says so). The codegen
  * columns are driver-process totals: Janino compilations and their
  * summed ms since the JVM started, and the size of the generated-class
  * LRU (see [[graft.GraftSession]]); a script that reruns a query and
  * sees `codegen_compilations` move has had its classes evicted.
  * `local_fs` names the raw class behind `FileSystem.get(file:///)` and
  * the class of `FileContext`'s local filesystem, the fork-free ones when
  * the `file:` binding took (see [[graft.GraftSession]]).
  */
object EngineResourceET extends NoPathET {
  override def name = "EngineResource"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val sc = ctx.spark.sparkContext
    require(!params.contains("cpus") && !params.contains("executorSize"),
      "EngineResource resize requires a dynamic-allocation cluster manager; " +
        "this deployment is local-mode (report-only)")
    UtilityETs.oneRowTable(ctx.spark,
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism.toString,
      "executors" -> sc.statusTracker.getExecutorInfos.length.toString,
      "app_id" -> sc.applicationId,
      "codegen_compilations" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toString,
      "codegen_compile_ms" ->
        (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L).toString,
      "codegen_cache_max_entries" ->
        ctx.spark.conf.get(org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key),
      "local_fs" -> {
        val (fs, fc) = graft.sources.ForkFreeLocalFs.boundClasses(sc.hadoopConfiguration)
        s"FileSystem:$fs FileContext:$fc"
      })
  }
}

/** Alias: the reference registers `RepartitionExt` alongside
  * `TableRepartition` with the same behavior.
  */
object RepartitionExtET extends NoPathET {
  override def name = "RepartitionExt"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame =
    TableRepartitionET.train(ctx, df, path, params)
}

/** `train _ as Map.`dictTable`; register Map.`dictTable` as lookup;` —
  * broadcast a one-row table as a string→string lookup UDF (reference:
  * SQLMap.scala:33-50 — first row via toJSON.head, predict = `res(a)`).
  * Deviation: a missing key returns null instead of throwing, so the UDF
  * is usable inside SQL without killing the job on unseen keys.
  */
object MapET extends NoPathET {
  override def name = "Map"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = df

  override def load(spark: org.apache.spark.sql.SparkSession, path: String,
                    params: Map[String, String]): Any = {
    val rows = spark.table(path).take(1)
    require(rows.nonEmpty, s"Map: dictionary table '$path' is empty — " +
      "register needs one row whose columns are the lookup keys")
    val row = rows.head
    row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> (if (row.isNullAt(i)) null else String.valueOf(row.get(i)))
    }.toMap
  }

  override def predict(spark: org.apache.spark.sql.SparkSession, model: Any,
                       udfName: String, params: Map[String, String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val m = model.asInstanceOf[Map[String, String]]
    udf((k: String) => if (k == null) null else m.getOrElse(k, null))
  }
}

/** `run t as AutoIncrementKeyExt.`` [where idCol="id"]` — append a unique
  * long id per row (reference: SQLAutoIncrementKeyExt.scala:10-17, RDD
  * zipWithUniqueId). Re-designed on `monotonically_increasing_id()` — the
  * same contract (unique, NOT contiguous), but codegen'd with no
  * Row-serialization round trip through an RDD.
  */
object AutoIncrementKeyExtET extends NoPathET {
  override def name = "AutoIncrementKeyExt"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val idCol = params.getOrElse("idCol", "id")
    require(!df.columns.contains(idCol),
      s"AutoIncrementKeyExt: column '$idCol' already exists; set idCol=...")
    df.withColumn(idCol, monotonically_increasing_id())
  }
}

/** Shared tf(-idf) vector construction for [[HashTfIdfET]]/[[TfIdfET]] —
  * one implementation of the count-then-scale logic so binary semantics
  * and sparse-vector assembly cannot drift between the two ETs' train and
  * predict paths.
  */
private[ets] object TfIdfSupport {
  /** Sparse term vector over `indices`: counts (or 0/1 when `binary`),
    * multiplied elementwise by `idf` when given.
    */
  def vec(numFeatures: Int, indices: Iterator[Int], binary: Boolean,
          idf: Array[Double]): org.apache.spark.ml.linalg.Vector = {
    val counts = scala.collection.mutable.HashMap.empty[Int, Double]
    indices.foreach { i =>
      counts.update(i, if (binary) 1.0 else counts.getOrElse(i, 0.0) + 1.0)
    }
    val entries =
      if (idf == null) counts.toSeq
      else counts.iterator.map { case (i, tf) => i -> tf * idf(i) }.toSeq
    org.apache.spark.ml.linalg.Vectors.sparse(numFeatures, entries.sortBy(_._1))
  }

  /** The train-time `binary` flag is persisted NEXT TO the model so
    * register/predict reproduce the fitted representation without the user
    * re-passing it (a predict with mismatched binary silently produces
    * vectors inconsistent with the fitted IDF).
    */
  def saveBinaryFlag(spark: org.apache.spark.sql.SparkSession, path: String,
                     binary: Boolean): Unit = {
    import spark.implicits._
    Seq(binary).toDF("binary").write.mode("overwrite")
      .parquet(path + "/graft_meta")
  }

  def loadBinaryFlag(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    try spark.read.parquet(path + "/graft_meta").head().getBoolean(0)
    catch { case _: org.apache.spark.sql.AnalysisException => false } // pre-flag model dirs

  def fitAndSaveIdf(spark: org.apache.spark.sql.SparkSession, withTf: DataFrame,
                    path: String, binary: Boolean,
                    params: Map[String, String]): Unit = {
    val idf = new org.apache.spark.ml.feature.IDF()
      .setInputCol("__tf__").setOutputCol("__tfidf__")
      .setMinDocFreq(params.getOrElse("minDocFreq", "0").toInt)
    idf.fit(withTf).write.overwrite().save(path)
    saveBinaryFlag(spark, path, binary)
  }

  /** load() result for both ETs: the fitted model + its train-time binary. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String)
      : (org.apache.spark.ml.feature.IDFModel, Boolean) =
    (org.apache.spark.ml.feature.IDFModel.load(path), loadBinaryFlag(spark, path))

  /** Predict-side binary: explicit param wins, else the persisted flag. */
  def unpack(model: Any, params: Map[String, String]): (Array[Double], Boolean) = {
    val (m, trainedBinary) =
      model.asInstanceOf[(org.apache.spark.ml.feature.IDFModel, Boolean)]
    (m.idf.toArray, params.get("binary").map(_.toBoolean).getOrElse(trainedBinary))
  }
}

/** `train docs as HashTfIdf.`/model/path` where inputCol="words"` — fit an
  * IDF over hashed term frequencies and save it; `register` builds a
  * words→tf-idf-vector UDF (reference: SQLHashTfIdf.scala:25-55).
  * The UDF hashes with the SAME ml HashingTF.indexOf as training, and the
  * train-time `binary` flag is persisted with the model so both sides
  * always agree (the reference's predict hardcodes binary=true against a
  * binary=false train default).
  */
object HashTfIdfET extends ET {
  override def name = "HashTfIdf"

  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "words")
    val numFeatures = params.getOrElse("numFeatures", (1 << 18).toString).toInt
    val binary = params.getOrElse("binary", "false").toBoolean
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol(inputCol).setOutputCol("__tf__")
      .setNumFeatures(numFeatures).setBinary(binary)
    TfIdfSupport.fitAndSaveIdf(ctx.spark, tf.transform(df), path, binary, params)
    UtilityETs.oneRowTable(ctx.spark, "status" -> "success", "path" -> path)
  }

  override def batchPredict(ctx: ScriptContext, df: DataFrame, path: String,
                            params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "words")
    val fn = predict(ctx.spark, load(ctx.spark, path, params), "tfidf", params)
    df.withColumn(inputCol + "_tfidf", fn(col(inputCol)))
  }

  override def load(spark: org.apache.spark.sql.SparkSession, path: String,
                    params: Map[String, String]): Any =
    TfIdfSupport.loadModel(spark, path)

  override def predict(spark: org.apache.spark.sql.SparkSession, model: Any,
                       udfName: String, params: Map[String, String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val (idf, binary) = TfIdfSupport.unpack(model, params)
    val hasher = new org.apache.spark.ml.feature.HashingTF()
      .setNumFeatures(idf.length).setBinary(binary)
    udf { (words: Seq[String]) =>
      if (words == null) null
      else TfIdfSupport.vec(idf.length, words.iterator.map(hasher.indexOf), binary, idf)
    }
  }
}

/** `train docs as TfIdf.`/model/path` where inputCol="wordIds"` — like
  * [[HashTfIdfET]] but over PRE-INDEXED integer word ids: the tf vector
  * has the count at index = id, no hashing (reference: SQLTfIdf.scala with
  * its patched `IntTF`, mllib/feature/IntTF.scala `transform`: index is
  * the term id itself). `numFeatures` must exceed the max word id.
  */
object TfIdfET extends ET {
  override def name = "TfIdf"

  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol", "words")
    val numFeatures = params.getOrElse("numFeatures", (1 << 18).toString).toInt
    val binary = params.getOrElse("binary", "false").toBoolean
    val tfVec = udf { (ids: Seq[Int]) =>
      if (ids == null) null
      else TfIdfSupport.vec(numFeatures, ids.iterator, binary, null)
    }
    val withTf = df.withColumn("__tf__", tfVec(col(inputCol)))
    TfIdfSupport.fitAndSaveIdf(ctx.spark, withTf, path, binary, params)
    UtilityETs.oneRowTable(ctx.spark, "status" -> "success", "path" -> path)
  }

  override def load(spark: org.apache.spark.sql.SparkSession, path: String,
                    params: Map[String, String]): Any =
    TfIdfSupport.loadModel(spark, path)

  override def predict(spark: org.apache.spark.sql.SparkSession, model: Any,
                       udfName: String, params: Map[String, String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val (idf, binary) = TfIdfSupport.unpack(model, params)
    udf { (ids: Seq[Int]) =>
      if (ids == null) null
      else TfIdfSupport.vec(idf.length, ids.iterator, binary, idf)
    }
  }
}

/** `run edges as CommunityBasedSimilityInPlace.`path` where rowNum="i"
  * and columnNum="j" and edgeValue="v"` — communities = connected
  * components of the similarity graph restricted to edges above
  * `minSimilarity`, keeping components larger than
  * max(round(|V| * minCommunityPercent), minCommunitySize)
  * (reference: SQLCommunityBasedSimilityInPlace.scala:20-45, GraphX
  * subgraph + connectedComponents). Re-designed on the repo's
  * pointer-doubling DataFrame CC ([[graft.operators.dedup.Components]]) —
  * no GraphX, same one-shuffle-per-round shape.
  *
  * Both thresholds are STRICT (`size > minSize`, `v > minSimilarity`),
  * matching the reference's observable behavior exactly
  * (SQLCommunityBasedSimilityInPlace.scala:28,36) — a community of exactly
  * minCommunitySize is dropped there too.
  *
  * Scale note: `vertexIds` is a per-community collect_list, same output
  * shape as the reference; at 100 TB keep `minCommunityPercent` sane or
  * consume the (vertex, group) pairs upstream of the grouping instead.
  */
object CommunityBasedSimilityInPlaceET extends ET {
  override def name = "CommunityBasedSimilityInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val rowNum = params.getOrElse("rowNum", "i")
    val columnNum = params.getOrElse("columnNum", "j")
    val edgeValue = params.getOrElse("edgeValue", "v")
    val minSimilarity = params.getOrElse("minSimilarity", "0.7").toDouble
    val minCommunitySize = params.getOrElse("minCommunitySize", "10").toLong
    val minCommunityPercent = params.getOrElse("minCommunityPercent", "0.1").toDouble

    // the |V| count is only needed for the percent bound — skip the extra
    // distinct-shuffle pass over the edge table when percent can't matter
    val minSize =
      if (minCommunityPercent <= 0.0) minCommunitySize
      else {
        val vertices = df.select(col(rowNum).cast("long").as("id"))
          .union(df.select(col(columnNum).cast("long").as("id"))).distinct()
        math.max(math.round(vertices.count() * minCommunityPercent),
          minCommunitySize)
      }

    val pairs = df.filter(col(edgeValue) > minSimilarity)
      .select(col(rowNum).cast("long").as("a_id"), col(columnNum).cast("long").as("b_id"))
    val groups = graft.operators.dedup.Components.labels(pairs)
      .groupBy(col("label").as("group"))
      .agg(collect_list(col("id")).as("vertexIds"), count(lit(1)).as("__n__"))
      .filter(col("__n__") > minSize)
      .select(col("group"), col("vertexIds"))
    if (path.nonEmpty)
      groups.write.mode("overwrite").parquet(path + "/data")
    groups
  }
}

/** `run _ as ModelExplainInPlace.`out` where modelPath="/model/x" and
  * modelType="sparkmllib"` — surface a saved spark.ml model's metadata
  * (class, uid, params, spark version) as a table (reference:
  * SQLModelExplainInPlace.scala:30-37 `sparkmllibTrain`, which hardcodes
  * BisectingKMeansModel; here any spark.ml artifact works — the writer's
  * `metadata/` JSON is the universal self-description). The reference's
  * default `sklearn` mode shells out to Python — out of scope offline,
  * clear error.
  *
  * `mode="coefficients"` instead dumps a fitted LINEAR model's weights as
  * rows `(idx, w)` with the intercept at idx = -1 — the oracle boundary
  * for model-based scoring pipelines (s29): persist the weights as a
  * plain table and everything downstream of the fit (feature arithmetic,
  * sigmoid, ranking) is SQL-replayable, exactly the s28
  * centroids-boundary pattern. Supports LogisticRegression (binomial),
  * LinearRegression and LinearSVC artifacts; the class is resolved from
  * the writer's metadata, never guessed from the path.
  */
object ModelExplainInPlaceET extends ET {
  override def name = "ModelExplainInPlace"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    params.getOrElse("modelType", "sparkmllib") match {
      case "sparkmllib" =>
        // modelPath goes through the same tenant re-rooting + containment
        // check as statement paths (the `path` operand arrives pre-resolved)
        val modelPath = params.get("modelPath").map(ctx.resolvePath).getOrElse(
          if (path.nonEmpty) path
          else throw new IllegalArgumentException(
            "ModelExplainInPlace requires modelPath=... (a saved spark.ml model dir)"))
        params.getOrElse("mode", "meta") match {
          case "meta" =>
            graft.sources.ModelMeta.read(ctx.spark, modelPath)
              .select(col("class"), col("uid"), col("sparkVersion"),
                to_json(col("paramMap")).as("params"))
          case "coefficients" => linearCoefficients(ctx, modelPath)
          case other => throw new IllegalArgumentException(
            s"ModelExplainInPlace mode must be meta|coefficients, got '$other'")
        }
      case other => throw new UnsupportedOperationException(
        s"ModelExplainInPlace modelType='$other' needs an external Python " +
          "runtime (reference sklearnTrain); this build supports modelType=\"sparkmllib\"")
    }
  }

  private def linearCoefficients(ctx: ScriptContext, modelPath: String): DataFrame = {
    import ctx.spark.implicits._
    val cls = graft.sources.ModelMeta.read(ctx.spark, modelPath)
      .select("class").head().getString(0)
    val (coef, intercept) = cls match {
      case "org.apache.spark.ml.classification.LogisticRegressionModel" =>
        val m = org.apache.spark.ml.classification.LogisticRegressionModel.load(modelPath)
        require(m.numClasses == 2,
          s"coefficients mode supports binomial LogisticRegression; model has ${m.numClasses} classes")
        (m.coefficients.toArray, m.intercept)
      case "org.apache.spark.ml.regression.LinearRegressionModel" =>
        val m = org.apache.spark.ml.regression.LinearRegressionModel.load(modelPath)
        (m.coefficients.toArray, m.intercept)
      case "org.apache.spark.ml.classification.LinearSVCModel" =>
        val m = org.apache.spark.ml.classification.LinearSVCModel.load(modelPath)
        (m.coefficients.toArray, m.intercept)
      case other => throw new UnsupportedOperationException(
        s"ModelExplainInPlace mode=coefficients: '$other' is not a supported linear model " +
          "(LogisticRegression/LinearRegression/LinearSVC)")
    }
    (coef.zipWithIndex.map { case (w, i) => (i, w) } :+ (-1, intercept))
      .toSeq.toDF("idx", "w")
  }
}

/** `run docs as TokenAnalysis.`` where inputCol="text" [and split=" "]` —
  * replace a text column with its token array (reference:
  * SQLTokenAnalysis.scala:20-55: `split` regex when given, ansj NLP
  * segmentation otherwise, via an RDD mapPartitions). Re-designed as
  * column expressions: native `split` for the regex path (codegen'd), the
  * shared [[graft.functions.UDFPack.segment]] dispatcher otherwise (ansj
  * by reflection when the jar exists, deterministic CJK/latin fallback
  * offline — dictionary params like wordsArray/dic.paths only apply on
  * the ansj path).
  */
object TokenAnalysisET extends ET {
  override def name = "TokenAnalysis"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val inputCol = params.getOrElse("inputCol",
      throw new IllegalArgumentException("TokenAnalysis requires inputCol"))
    val tokens = params.get("split") match {
      // limit=0 = Java String.split semantics (trailing empties dropped),
      // matching the reference's content.split(split)
      case Some(sep) => split(col(inputCol), sep, 0)
      case None => udf((s: String) => graft.functions.UDFPack.segment(s))
        .apply(col(inputCol))
    }
    val out = df.withColumn(inputCol, tokens)
    // reference persists (keywords, id) to the path when idCol is given
    params.get("idCol").filter(_ => path.nonEmpty).foreach { id =>
      out.select(col(inputCol).as("keywords"), col(id))
        .write.mode("overwrite").parquet(path)
    }
    out
  }
}

/** `run docs as TokenExtract.`out` where dic.paths="/dict.txt" and
  * inputCol="text" and idCol="id"` — per doc, every dictionary word that
  * occurs in the text (reference: SQLTokenExtract.scala:16-50, ansj trie
  * Forest + extractAllWords). Re-designed with a plain Scala prefix trie
  * built once from the (dictionary-sized, bounded) word list and shipped
  * in the UDF closure: matching scans each start offset through the trie,
  * O(len · maxWordLen) per row, no ansj dependency.
  */
object TokenExtractET extends ET {
  override def name = "TokenExtract"

  private[ets] final class WordTrie(words: Iterable[String]) extends Serializable {
    private val root = new java.util.HashMap[Char, AnyRef]()
    // NUL never appears in a sane dictionary word, so the end-marker slot
    // cannot collide with a child edge (multi-word entries like "new york"
    // contain spaces, so a space sentinel would corrupt the trie)
    private val WORD_END = '\u0000'
    // a dictionary word containing NUL would alias the end-marker slot —
    // exclude it at build time rather than corrupt the trie
    words.filter(w => w != null && w.nonEmpty && !w.contains(WORD_END)).foreach { w =>
      var node = root
      w.foreach { ch =>
        var next = node.get(ch).asInstanceOf[java.util.HashMap[Char, AnyRef]]
        if (next == null) {
          next = new java.util.HashMap[Char, AnyRef]()
          node.put(ch, next)
        }
        node = next
      }
      node.put(WORD_END, w)
    }

    /** All dictionary words occurring in `text`, in match order. */
    def extractAll(text: String, dedup: Boolean): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val seen = scala.collection.mutable.HashSet[String]()
      var start = 0
      while (start < text.length) {
        var node = root
        var i = start
        while (node != null) {
          val w = node.get(WORD_END)
          if (w != null) {
            val word = w.asInstanceOf[String]
            if (!dedup || seen.add(word)) out += word
          }
          if (i < text.length) {
            // the TEXT may legitimately contain NUL (dirty corpora are the
            // norm here): node.get(WORD_END) would return the String end
            // marker, so type-check instead of casting blindly
            node = node.get(text.charAt(i)) match {
              case m: java.util.HashMap[Char @unchecked, AnyRef @unchecked] => m
              case _ => null
            }
            i += 1
          } else node = null
        }
        start += 1
      }
      out.toSeq
    }
  }

  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val spark = ctx.spark
    val dicPaths = params.getOrElse("dic.paths",
      throw new IllegalArgumentException("TokenExtract requires dic.paths"))
    val inputCol = params.getOrElse("inputCol",
      throw new IllegalArgumentException("TokenExtract requires inputCol"))
    val idCol = params.getOrElse("idCol",
      throw new IllegalArgumentException("TokenExtract requires idCol"))
    val dedup = params.getOrElse("deduplicateResult", "false").toBoolean
    // dictionary paths are tenant paths too: re-root + containment-check
    // each one exactly like the statement path
    val words = spark.read.textFile(
      dicPaths.split(",").map(p => ctx.resolvePath(p.trim)): _*).collect()
    val trie = new WordTrie(words)
    val extract = udf { (text: String) =>
      if (text == null) Seq.empty[String] else trie.extractAll(text, dedup)
    }
    val out = df.select(col(idCol).as("id"), extract(col(inputCol)).as("keywords"))
    if (path.nonEmpty) out.write.mode("overwrite").parquet(path)
    out
  }
}

/** `run t as EmptyTable.`` ` — constant empty result, used by reference
  * scripts as a no-op terminal statement (reference:
  * tech/mlsql/plugins/ets/EmptyTable.scala:31-33).
  */
object EmptyTableET extends NoPathET {
  override def name = "EmptyTable"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame =
    ctx.spark.emptyDataFrame
}

/** `!last named <t>` — re-expose the PREVIOUS statement's result table
  * under a new name (reference: tech/mlsql/plugins/ets/LastCommand.scala:
  * 28-44 reads `getLastSelectTable`; here [[ScriptContext.lastTable]],
  * which the runner updates only after this train returns, so it still
  * points at the prior statement).
  */
object LastCommandET extends NoPathET {
  override def name = "LastCommand"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val args = params.getOrElse("parameters", "").trim.split("\\s+").filter(_.nonEmpty)
    require(args.length == 2 && args(0) == "named", "usage: !last named <tableName>")
    val prev = ctx.lastTable.getOrElse(throw new IllegalStateException(
      "!last: no table produced by a previous statement"))
    val out = ctx.spark.table(prev)
    out.createOrReplaceTempView(args(1))
    out
  }
}

/** `run t as SaveBinaryAsFile.`` where filePath="..."` — write the FIRST
  * row's binary column to a single file (model blobs, exported images —
  * one payload by contract, so the single-row collect is bounded;
  * reference: tech/mlsql/plugins/ets/SaveBinaryAsFile.scala:33-41).
  */
object SaveBinaryAsFileET extends NoPathET {
  override def name = "SaveBinaryAsFile"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame = {
    val target = ctx.resolvePath(params.getOrElse("filePath",
      throw new IllegalArgumentException("SaveBinaryAsFile requires filePath")))
    val row = df.limit(1).collect().headOption.getOrElse(
      throw new IllegalArgumentException("SaveBinaryAsFile: input table is empty"))
    val bytes = row.get(0) match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"SaveBinaryAsFile: first column must be binary, got ${df.schema.head.dataType}")
    }
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(bytes) finally os.close()
    UtilityETs.oneRowTable(ctx.spark,
      "path" -> target, "bytes" -> bytes.length.toString)
  }
}

/** `run t as SendMessage.`` ` — the reference mails query results over
  * SMTP (SQLSendMessage.scala). Outbound network is unavailable in this
  * build, so the slot fails loudly instead of silently dropping mail.
  */
object SendMessageET extends NoPathET {
  override def name = "SendMessage"
  override def train(ctx: ScriptContext, df: DataFrame, path: String,
                     params: Map[String, String]): DataFrame =
    throw new UnsupportedOperationException(
      "SendMessage requires outbound SMTP, which this offline build does " +
        "not ship; save the table and deliver it with an external mailer")
}
