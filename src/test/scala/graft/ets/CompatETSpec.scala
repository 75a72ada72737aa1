package graft.ets

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.dsl.ScriptRunner

class CompatETSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private def runDF(script: String) = ScriptRunner.runToDF(script, spark)

  test("Kill ET cancels by reference statement form") {
    // nothing named this is running: result is an empty cancellation list
    val df = runDF("run command as Kill.`no_such_job` as k;")
    assert(df.columns.toSeq == Seq("cancelled_group"))
    assert(df.count() == 0)
  }

  test("JDBC ET fails actionably without a connect alias / driver") {
    val e = intercept[IllegalArgumentException] {
      runDF("""run command as JDBC.`nope` where driver-statement-0="create table x(a int)";""")
    }
    assert(e.getMessage.contains("connect"))
  }

  test("VecMapInPlace builds sparse vectors over the global key space") {
    val df = runDF(
      """select map('a', 1.0, 'c', 3.0) as feature
        |union all select map('b', 2.0, 'c', 4.0) as feature
        |as vm_in;
        |run vm_in as VecMapInPlace.`` as vm_out;
        |select feature from vm_out as out;""".stripMargin)
    val vecs = df.collect().map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(vecs.forall(_.size == 3)) // keys a,b,c
    assert(vecs.map(_.toArray.sum).sorted.toSeq == Seq(4.0, 6.0))
  }

  test("Word2ArrayInPlace segments text in place") {
    val df = runDF(
      """select 'hello spark world' as text as w2a_in;
        |run w2a_in as Word2ArrayInPlace.`` as w2a_out;
        |select text from w2a_out as out;""".stripMargin)
    assert(df.head().getSeq[String](0) == Seq("hello", "spark", "world"))
  }

  test("FeatureExtractInPlace computes phone/email/url/length features") {
    val df = runDF(
      """select 'reach me at bob@example.com or 13912345678, see https://x.io/a now' as doc as fe_in;
        |run fe_in as FeatureExtractInPlace.`` as fe_out;
        |select phone, email, url, length, blank_percent from fe_out as out;""".stripMargin)
    val r = df.head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 1 && r.getInt(2) == 1)
    assert(r.getInt(3) > 40 && r.getDouble(4) > 0)
  }

  test("RawSimilarInPlace assigns one __group__ per near-dup cluster") {
    val df = runDF(
      s"""load parquet.`$sf/documents.parquet` as rs_docs;
         |run rs_docs as RawSimilarInPlace.`` where threshold="0.8" as rs_out;
         |select doc_id, __group__ from rs_out as out;""".stripMargin)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    // groups are labeled by their min member
    assert(rows.forall { case (id, g) => g <= id })
    // at least one real cluster exists in the fixture, and singletons keep their id
    assert(rows.exists { case (id, g) => g < id })
    assert(rows.exists { case (id, g) => g == id })
  }

  test("ReduceFeaturesInPlace reduces vector dimensionality via PCA") {
    val df = runDF(
      """select vec_dense(array(1.0, 2.0, 3.0, 4.0)) as features
        |union all select vec_dense(array(2.0, 3.0, 4.0, 5.0)) as features
        |union all select vec_dense(array(5.0, 4.0, 3.0, 1.0)) as features
        |as rf_in;
        |run rf_in as ReduceFeaturesInPlace.`` where k="2" as rf_out;
        |select features from rf_out as out;""".stripMargin)
    val vecs = df.collect().map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    assert(vecs.length == 3 && vecs.forall(_.size == 2))
  }

  test("!resource reports local-mode compute; resize refused clearly") {
    val df = runDF("!resource;")
    val r = df.head()
    assert(r.getString(0).startsWith("local"))
    assert(r.getString(1).toInt > 0)
    val e = intercept[IllegalArgumentException] {
      runDF("""run command as EngineResource.`` where cpus="8" as r2;""")
    }
    assert(e.getMessage.contains("local-mode"))
  }

  test("!resource codegen counters: a new query compiles, its rerun does not") {
    def counters(): (Long, Long, Int) = {
      val r = runDF("!resource;").head()
      (r.getAs[String]("codegen_compilations").toLong,
        r.getAs[String]("codegen_compile_ms").toLong,
        r.getAs[String]("codegen_cache_max_entries").toInt)
    }
    val query = s"select id * 3 + ${System.nanoTime()} as v from range(2) as t;"
    val (n0, ms0, max) = counters()
    assert(max == graft.GraftSession.CodegenCacheEntries)
    runDF(query).collect()
    val (n1, ms1, _) = counters()
    assert(n1 > n0 && ms1 >= ms0)
    // process-wide counters: a streaming query left running by an earlier
    // suite can compile meanwhile, so a rerun that moved them is retried
    def rerunCompiles(): Long = {
      val (a, _, _) = counters()
      runDF(query).collect()
      counters()._1 - a
    }
    val reruns = scala.collection.mutable.ArrayBuffer(rerunCompiles())
    while (reruns.last != 0L && reruns.size < 3) reruns += rerunCompiles()
    assert(reruns.last == 0L, s"reruns compiled ${reruns.mkString(", ")} classes")
  }

  test("TreeBuildExt: roots, heights, transitive descendants (reference fixture)") {
    val script =
      """set treedata = '''{"id":0,"parentId":null}
        |{"id":1,"parentId":null}
        |{"id":2,"parentId":1}
        |{"id":3,"parentId":1}
        |{"id":7,"parentId":0}
        |{"id":199,"parentId":1}''';
        |load jsonStr.`treedata` as tree_in;
        |""".stripMargin
    // treePerRow: one row per root (the reference spec asserts count == 2)
    val roots = runDF(script +
      """run tree_in as TreeBuildExt.`` where idCol="id" and parentIdCol="parentId" as r1;
        |select id, level, children from r1 order by id as out;""".stripMargin).collect()
    assert(roots.length == 2)
    val byId = roots.map(r => r.getString(0) -> r).toMap
    assert(byId("0").getInt(1) == 1 && byId("0").getSeq[String](2).toSet == Set("7"))
    assert(byId("1").getInt(1) == 1 && byId("1").getSeq[String](2).toSet == Set("2", "3", "199"))
    // nodeTreePerRow: every node, leaves at level 0 with no descendants
    val nodes = runDF(script +
      """run tree_in as TreeBuildExt.`` where idCol="id" and parentIdCol="parentId"
        |  and treeType="nodeTreePerRow" as r2;
        |select id, level, children from r2 order by id as out;""".stripMargin).collect()
    assert(nodes.length == 6)
    val n = nodes.map(r => r.getString(0) -> r).toMap
    assert(n("2").getInt(1) == 0 && n("2").getSeq[String](2).isEmpty)
    // deep chain exercises the iterative propagation
    val deep = runDF(
      """set chain = '''{"id":1,"pid":null}
        |{"id":2,"pid":1}
        |{"id":3,"pid":2}
        |{"id":4,"pid":3}
        |{"id":5,"pid":4}''';
        |load jsonStr.`chain` as chain_in;
        |run chain_in as TreeBuildExt.`` where idCol="id" and parentIdCol="pid" as r3;
        |select id, level, children from r3 as out;""".stripMargin).head()
    assert(deep.getInt(1) == 4 && deep.getSeq[String](2).toSet == Set("2", "3", "4", "5"))
  }

  test("CorpusExplainInPlace returns the label distribution") {
    val df = runDF(
      """select explode(array('a','a','a','b')) as lbl as ce_in;
        |run ce_in as CorpusExplainInPlace.`` where labelCol="lbl" as ce_out;
        |select lbl, labelCount, weight, percent, total from ce_out order by lbl as out;""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 3 && math.abs(rows(0).getDouble(3) - 0.75) < 1e-9)
    assert(rows(1).getDouble(2) == 4.0 && rows(1).getLong(4) == 4)
  }

  test("mlsqlConf / unStructured / model sources") {
    val conf = runDF("load mlsqlConf.`spark.sql.shuffle` as c; select * from c as out;")
    assert(conf.collect().exists(r => r.getString(0) == "spark.sql.shuffle.partitions"))
    val dir = java.nio.file.Files.createTempDirectory("graft_unst")
    java.nio.file.Files.write(dir.resolve("a.txt"), "line one\nline two".getBytes)
    java.nio.file.Files.write(dir.resolve("b.txt"), "solo".getBytes)
    val un = runDF(s"load unStructured.`$dir` as u; select file, content from u as out;")
    val byFile = un.collect().map(r => r.getString(0).split("/").last -> r.getString(1)).toMap
    assert(byFile("a.txt") == "line one\nline two" && byFile("b.txt") == "solo")
    // model is the reference's short name for the modelParams surface
    val mp = java.nio.file.Files.createTempDirectory("graft_model").toString
    runDF(
      s"""set td2 = '''{"a":1.0,"label":0.0}
         |{"a":2.0,"label":1.0}''';
         |load jsonStr.`td2` as tdt2;
         |select vec_dense(array(a)) as features, label from tdt2 as m_train;
         |train m_train as LogisticRegressor.`$mp` as ts2;""".stripMargin)
    val m = runDF(s"load model.`$mp` as mm; select class from mm as out;")
    assert(m.head().getString(0).contains("LogisticRegression"))
  }

  test("RepartitionExt aliases TableRepartition") {
    val df = runDF(
      s"""load parquet.`$sf/region.parquet` as rext_in;
         |run rext_in as RepartitionExt.`` where partitionNum="3" as rext_out;""".stripMargin)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 5)
  }

  test("TreeBuildExt keeps roots that only appear in the parent column") {
    // pure edge list — no explicit (root, null) declaration rows
    val roots = runDF(
      """select 'b' as id, 'a' as pid
        |union all select 'c', 'a'
        |union all select 'd', 'b'
        |as tree_edges;
        |run tree_edges as TreeBuildExt.`` where idCol="id" and parentIdCol="pid" as te_r;
        |select id, level, children from te_r as out;""".stripMargin).collect()
    assert(roots.map(_.getString(0)).toSeq == Seq("a"))
    assert(roots.head.getInt(1) == 2)
    assert(roots.head.getSeq[String](2).toSet == Set("b", "c", "d"))
  }

  test("RateSampler 3-way bernoulli split matches the declared rates") {
    val df = runDF(
      s"""load parquet.`$sf/orders.parquet` as rs3_in;
         |run rs3_in as RateSampler.`` where sampleRate="0.8,0.1,0.1"
         |  and seed="42" as rs3_out;
         |select __split__, count(*) as n from rs3_out group by __split__ as out;""".stripMargin)
    val total = df.collect().map(_.getLong(1)).sum.toDouble
    val shares = df.collect().map(r => r.getInt(0) -> r.getLong(1) / total).toMap
    // a desynchronized per-branch RNG gave split 1 ~0.18 instead of 0.1
    assert(math.abs(shares(0) - 0.8) < 0.03, shares.toString)
    assert(math.abs(shares(1) - 0.1) < 0.03, shares.toString)
    assert(math.abs(shares(2) - 0.1) < 0.03, shares.toString)
  }

  test("Map ET registers a first-row string lookup UDF") {
    val df = runDF(
      """select 'v1' as k1, 'v2' as k2 as map_dict;
        |register Map.`map_dict` as dict_lookup;
        |select dict_lookup('k2') as hit, dict_lookup('nope') as miss as out;""".stripMargin)
    val r = df.head()
    assert(r.getString(0) == "v2")
    assert(r.isNullAt(1))
  }

  test("AutoIncrementKeyExt appends a unique long id per row") {
    val df = runDF(
      s"""load parquet.`$sf/nation.parquet` as aik_in;
         |run aik_in as AutoIncrementKeyExt.`` as aik_out;""".stripMargin)
    assert(df.columns.contains("id"))
    assert(df.select("id").distinct().count() == df.count())
  }

  test("HashTfIdf: register UDF agrees with the ml-pipeline transform") {
    val path = java.nio.file.Files.createTempDirectory("graft_htfidf").toString
    val df = runDF(
      s"""select split('spark makes data fast', ' ') as words
         |union all select split('spark and spark again', ' ') as words
         |union all select split('tiny docs here', ' ') as words as htf_in;
         |train htf_in as HashTfIdf.`$path` where inputCol="words" and numFeatures="64";
         |register HashTfIdf.`$path` as htfidf where numFeatures="64";
         |select htfidf(split('spark and spark again', ' ')) as v as out;""".stripMargin)
    val got = df.head().getAs[org.apache.spark.ml.linalg.Vector](0)
    // oracle: the standard ml pipeline on the same doc
    val model = org.apache.spark.ml.feature.IDFModel.load(path)
    import spark.implicits._
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("words").setOutputCol("__tf__").setNumFeatures(64)
    val expected = model.setInputCol("__tf__").setOutputCol("__tfidf__")
      .transform(tf.transform(Seq(Tuple1(Seq("spark", "and", "spark", "again"))).toDF("words")))
      .select("__tfidf__").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(got == expected)
  }

  test("TfIdf indexes tf by the integer word id itself") {
    val path = java.nio.file.Files.createTempDirectory("graft_tfidf").toString
    val df = runDF(
      s"""select array(1, 3, 3) as words
         |union all select array(2, 3) as words as tfidf_in;
         |train tfidf_in as TfIdf.`$path` where inputCol="words" and numFeatures="8";
         |register TfIdf.`$path` as int_tfidf;
         |select int_tfidf(array(1, 3, 3)) as v as out;""".stripMargin)
    val v = df.head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == 8)
    val nz = v.toArray.zipWithIndex.filter(_._1 != 0.0).map(_._2).toSeq
    assert(nz == Seq(1)) // id 3 is in every doc -> idf ln((2+1)/(2+1)) = 0
    assert(v(1) > 0)
  }

  test("CommunityBasedSimilityInPlace groups connected high-similarity edges") {
    val df = runDF(
      """select 1L as i, 2L as j, 0.9 as v
        |union all select 2L as i, 3L as j, 0.95 as v
        |union all select 10L as i, 11L as j, 0.8 as v
        |union all select 20L as i, 21L as j, 0.3 as v
        |as cb_edges;
        |run cb_edges as CommunityBasedSimilityInPlace.`` where
        |minCommunitySize="1" and minCommunityPercent="0.0" as cb_out;
        |select `group`, vertexIds from cb_out as out;""".stripMargin)
    val groups = df.collect().map(r => r.getSeq[Long](1).sorted).sortBy(_.head)
    assert(groups.toSeq == Seq(Seq(1L, 2L, 3L), Seq(10L, 11L)))
  }

  test("ModelExplainInPlace surfaces saved spark.ml model metadata") {
    val path = java.nio.file.Files.createTempDirectory("graft_mexp").toString
    val df = runDF(
      s"""select split('a b', ' ') as words as mexp_in;
         |train mexp_in as HashTfIdf.`$path` where inputCol="words" and numFeatures="16";
         |run mexp_in as ModelExplainInPlace.`` where modelPath="$path" as mexp_out;
         |select class, params from mexp_out as out;""".stripMargin)
    val r = df.head()
    assert(r.getString(0).contains("IDFModel"))
    assert(r.getString(1).contains("minDocFreq"))
  }

  test("ModelExplainInPlace mode=coefficients dumps linear weights with intercept at idx=-1") {
    val path = java.nio.file.Files.createTempDirectory("graft_mcoef").toString + "/lr"
    val df = runDF(
      s"""select CAST(id AS DOUBLE) as x, CASE WHEN id >= 5 THEN 1.0 ELSE 0.0 END as label,
         |  vec_dense(to_array_double(array(CAST(id AS DOUBLE)))) as features
         |from range(10) as mc_in;
         |train mc_in as LogisticRegressor.`$path` where maxIter="10" as mc_tr;
         |run mc_in as ModelExplainInPlace.`` where modelPath="$path"
         |  and mode="coefficients" as mc_out;
         |select idx, w from mc_out order by idx as out;""".stripMargin)
    val rows = df.collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(rows.map(_._1).toSeq == Seq(-1, 0))
    // separable on x with a positive slope; intercept negative
    assert(rows(1)._2 > 0 && rows(0)._2 < 0, rows.mkString(","))
  }

  test("ModelExplainInPlace mode=coefficients rejects non-linear models") {
    val path = java.nio.file.Files.createTempDirectory("graft_mcoef2").toString
    val err = intercept[Exception](runDF(
      s"""select split('a b', ' ') as words as mc2_in;
         |train mc2_in as HashTfIdf.`$path` where inputCol="words" and numFeatures="16";
         |run mc2_in as ModelExplainInPlace.`` where modelPath="$path"
         |  and mode="coefficients" as mc2_out;""".stripMargin))
    assert(err.getMessage.contains("not a supported linear model"))
  }

  test("TokenAnalysis honors split regex and segment fallback") {
    val bySplit = runDF(
      """select 'a,b,,c' as text as ta_in;
        |run ta_in as TokenAnalysis.`` where inputCol="text" and split="," as ta_out;""".stripMargin)
    assert(bySplit.head().getSeq[String](0) == Seq("a", "b", "", "c"))
    val bySegment = runDF(
      """select 'hello spark' as text as ta2_in;
        |run ta2_in as TokenAnalysis.`` where inputCol="text" as ta2_out;""".stripMargin)
    assert(bySegment.head().getSeq[String](0) == Seq("hello", "spark"))
  }

  test("TokenExtract matches dictionary words via the trie") {
    val dicDir = java.nio.file.Files.createTempDirectory("graft_dic")
    val dic = dicDir.resolve("words.txt")
    java.nio.file.Files.write(dic,
      java.util.Arrays.asList("spark", "data", "big data"))
    val df = runDF(
      s"""select 1 as doc_id, 'big data needs spark, spark needs data' as text as te_in;
         |run te_in as TokenExtract.`` where dic.paths="$dic"
         |and inputCol="text" and idCol="doc_id" as te_out;""".stripMargin)
    val kws = df.head().getSeq[String](1)
    // every occurrence of every dictionary word, overlaps included
    assert(kws.count(_ == "spark") == 2)
    assert(kws.count(_ == "data") == 2) // inside "big data" + the final standalone one
    assert(kws.count(_ == "big data") == 1)
    val dedup = runDF(
      s"""select 1 as doc_id, 'spark spark data' as text as te2_in;
         |run te2_in as TokenExtract.`` where dic.paths="$dic"
         |and inputCol="text" and idCol="doc_id" and deduplicateResult="true" as te2_out;""".stripMargin)
    assert(dedup.head().getSeq[String](1) == Seq("spark", "data"))
  }

  test("!show datasources lists the registered source formats") {
    val df = runDF("!show datasources;")
    val names = df.collect().map(_.getString(0)).toSet
    assert(names.contains("parquet") && names.contains("jsonStr".toLowerCase))
  }

  test("NothingET returns the reference's one-empty-string table") {
    val df = runDF("run command as NothingET.`` as n_out;")
    assert(df.columns.toSeq == Seq("value"))
    assert(df.head().getString(0) == "")
  }

  test("!model history lists a saved model's metadata") {
    val path = java.nio.file.Files.createTempDirectory("graft_mc").toString
    val df = runDF(
      s"""select split('a b', ' ') as words as mc_in;
         |train mc_in as HashTfIdf.`$path` where inputCol="words" and numFeatures="16";
         |!model history $path;""".stripMargin)
    val r = df.head()
    assert(r.getString(0) == path)
    assert(r.getString(1).contains("IDFModel"))
  }

  test("!iterator and !runScript macros drive their ETs") {
    val it = runDF(
      s"""select 2 as n as it_in;
         |!iterator it_in '''select cast($${n} * 10 as int) as v as it_view''';
         |select v from it_view as it_out;""".stripMargin)
    assert(it.head().getInt(0) == 20)
    val rs = runDF(
      """select 'select 41 + 1 as answer as rs_inner;' as content as rs_in;
        |!runScript rs_in;""".stripMargin)
    assert(rs.head().getInt(0) == 42)
  }

  test("HashTfIdf persists the train-time binary flag for register") {
    val path = java.nio.file.Files.createTempDirectory("graft_htfb").toString
    val df = runDF(
      s"""select split('x x y', ' ') as words
         |union all select split('y z', ' ') as words as htfb_in;
         |train htfb_in as HashTfIdf.`$path` where inputCol="words"
         |  and numFeatures="32" and binary="true";
         |register HashTfIdf.`$path` as htfb;
         |select htfb(split('x x y', ' ')) as v as out;""".stripMargin)
    val v = df.head().getAs[org.apache.spark.ml.linalg.Vector](0)
    // binary tf: the duplicated 'x' contributes 1, not 2 — so the vector
    // must equal the one for the deduplicated doc
    val model = org.apache.spark.ml.feature.IDFModel.load(path)
    import spark.implicits._
    val tf = new org.apache.spark.ml.feature.HashingTF()
      .setInputCol("words").setOutputCol("__tf__").setNumFeatures(32).setBinary(true)
    val expected = model.setInputCol("__tf__").setOutputCol("__tfidf__")
      .transform(tf.transform(Seq(Tuple1(Seq("x", "x", "y"))).toDF("words")))
      .select("__tfidf__").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v == expected)
  }

  test("TokenExtract survives NUL bytes in the text; Map rejects empty dicts") {
    val dicDir = java.nio.file.Files.createTempDirectory("graft_dic2")
    val dic = dicDir.resolve("w.txt")
    java.nio.file.Files.write(dic, java.util.Arrays.asList("ab"))
    val df = runDF(
      s"""select 1 as doc_id, concat('ab', char(0), 'ab') as text as nul_in;
         |run nul_in as TokenExtract.`` where dic.paths="$dic"
         |and inputCol="text" and idCol="doc_id" as nul_out;""".stripMargin)
    assert(df.head().getSeq[String](1) == Seq("ab", "ab"))
    val e = intercept[Exception] {
      runDF(
        """select 1 as k where 1 = 0 as empty_dict;
          |register Map.`empty_dict` as empty_lookup;""".stripMargin)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("!withWartermark macro re-registers the view with a watermark") {
    val df = runDF(
      """select current_timestamp() as ts, 1 as v as wm_in;
        |!withWartermark wm_in ts '10 seconds';
        |select v from wm_in as wm_out;""".stripMargin)
    assert(df.count() == 1)
  }

  test("EmptyTable returns an empty frame") {
    val df = runDF(
      """select 1 as a as et_in;
        |run et_in as EmptyTable.`` as et_out;""".stripMargin)
    assert(df.count() == 0 && df.columns.isEmpty)
  }

  test("!last named re-exposes the previous statement's table") {
    val df = runDF(
      """select 42 as answer as last_in;
        |!last named renamed_tbl;
        |select answer from renamed_tbl as last_out;""".stripMargin)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(42))
  }

  test("SaveBinaryAsFile writes the first row's binary column") {
    val out = "/tmp/graft_sbaf_test.bin"
    val df = runDF(
      s"""select cast('payload' as binary) as content as sb_in;
         |run sb_in as SaveBinaryAsFile.`` where filePath="$out" as sb_out;""".stripMargin)
    assert(df.columns.toSeq == Seq("path", "bytes"))
    val written = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(new String(written, "UTF-8") == "payload")
  }

  test("SendMessage fails loudly as an offline stub") {
    val e = intercept[UnsupportedOperationException] {
      runDF("""select 1 as a as sm_in; run sm_in as SendMessage.`` as sm_out;""")
    }
    assert(e.getMessage.contains("SMTP"))
  }
}
