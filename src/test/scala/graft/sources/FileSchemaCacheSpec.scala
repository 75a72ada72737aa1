package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.jobsOf
import graft.dsl.{Engine, ScriptContext}

/** A repeated file load reuses the schema Spark inferred while the file set
  * is unchanged: no inference job, the same schema (nullability and metadata
  * included) and the same rows. A changed file set re-infers; options, SQL
  * conf and sessions key separate entries.
  */
class FileSchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/d"

  private def load(s: SparkSession, format: String, path: String,
                   opts: Map[String, String] = Map.empty): DataFrame =
    DataSourceRegistry.load(new ScriptContext(s), format, path, opts)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Miss then hit on an unchanged dir: the hit launches no job and returns
    * the miss's schema and rows. Returns the hit.
    */
  private def assertHit(format: String, path: String,
                        opts: Map[String, String] = Map.empty,
                        s: SparkSession = spark): DataFrame = {
    val (miss, missJobs) = jobsOf(load(s, format, path, opts))
    assert(missJobs > 0, s"$format: the first load infers (not a vacuous check)")
    val (hit, hitJobs) = jobsOf(load(s, format, path, opts))
    assert(hitJobs == 0, s"$format: a repeated load of an unchanged dir launched $hitJobs job(s)")
    assert(hit.schema == miss.schema, s"$format: ${hit.schema} vs ${miss.schema}")
    assert(rows(hit) == rows(miss))
    hit
  }

  test("a repeated load of an unchanged dir launches no job: parquet, partitioned parquet, json, csv") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5, 1), (2L, "b", 2.5, 2), (3L, null, 3.5, 1)).toDF("k", "v", "x", "p")
    val pq = tmp("fsc_pq")
    df.withColumn("v", $"v".as("v", new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "kept").build())).write.parquet(pq)
    val hitPq = assertHit("parquet", pq)
    assert(hitPq.schema("v").metadata.getString("comment") == "kept")

    val part = tmp("fsc_part")
    df.write.partitionBy("p").parquet(part)
    val hitPart = assertHit("parquet", part)
    assert(hitPart.columns.toSeq == Seq("k", "v", "x", "p"))

    val js = tmp("fsc_json")
    df.write.json(js)
    assertHit("json", js)

    val csv = tmp("fsc_csv")
    df.write.option("header", "true").csv(csv)
    val hitCsv = assertHit("csv", csv, Map("header" -> "true", "inferSchema" -> "true"))
    assert(hitCsv.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("a changed file set re-infers: overwrite with other columns, an added json field") {
    import spark.implicits._
    val pq = tmp("fsc_over")
    Seq((1L, "a")).toDF("k", "v").write.parquet(pq)
    assertHit("parquet", pq)
    Seq((2, 2.5, true)).toDF("a", "b", "c").write.mode("overwrite").parquet(pq)
    val (after, jobs) = jobsOf(load(spark, "parquet", pq))
    assert(jobs > 0)
    assert(after.columns.toSeq == Seq("a", "b", "c"))
    assert(rows(after) == Seq("[2,2.5,true]"))

    val js = tmp("fsc_grow")
    Seq("""{"a":1}""").toDS().write.text(js)
    assertHit("json", js)
    Seq("""{"a":2,"z":"new"}""").toDS().write.mode("append").text(js)
    val (grown, grownJobs) = jobsOf(load(spark, "json", js))
    assert(grownJobs > 0)
    assert(grown.columns.toSeq == Seq("a", "z"))
    assert(rows(grown) == Seq("[1,null]", "[2,new]"))
    // the re-inferred schema replaced the entry
    val (again, againJobs) = jobsOf(load(spark, "json", js))
    assert(againJobs == 0 && again.schema == grown.schema)
  }

  test("a changed reader option or SQL conf gets its own entry") {
    import spark.implicits._
    val js = tmp("fsc_opts")
    Seq((1L, "a")).toDF("k", "v").write.json(js)
    assertHit("json", js)
    val asString = assertHit("json", js, Map("primitivesAsString" -> "true"))
    assert(asString.schema("k").dataType == org.apache.spark.sql.types.StringType)
    // the default-option entry survived the other option's entry
    assert(jobsOf(load(spark, "json", js))._2 == 0, "default-option entry")

    val s = spark.newSession()
    assertHit("json", js, s = s)
    val partitions = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "3")
    assertHit("json", js, s = s)
    s.conf.set("spark.sql.shuffle.partitions", partitions)
    assert(jobsOf(load(s, "json", js))._2 == 0, "entry under the original conf")
  }

  test("two Engine tenants do not share entries") {
    import spark.implicits._
    val pq = tmp("fsc_tenants")
    Seq((1L, "a")).toDF("k", "v").write.parquet(pq)
    val engine = new Engine(spark, java.nio.file.Files.createTempDirectory("fsc_home").toString)
    val script = s"load parquet.`$pq` as t;"
    Seq("alice", "bob").foreach(engine.sessionFor) // UDF registration runs outside the windows
    assert(jobsOf(engine.run("alice", script))._2 > 0)
    assert(jobsOf(engine.run("alice", script))._2 == 0)
    assert(jobsOf(engine.run("bob", script))._2 > 0, "bob's first load must infer on its own")
    assert(jobsOf(engine.run("bob", script))._2 == 0)
  }
}
