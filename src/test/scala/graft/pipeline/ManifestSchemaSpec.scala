package graft.pipeline

import graft.SparkTestBase
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest tables carry their schema: after every kind of land, the
  * schema a read resolves from the manifest is the one a mergeSchema
  * read of the same generation dirs infers (field order, types and
  * nullability), and both read the same rows.
  */
class ManifestSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, tag, i)).toDF("id", "tag", "v")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The recorded read agrees with a mergeSchema read of the same dirs. */
  private def agrees(m: TableManifest, dest: String, table: String): Unit = {
    val dirs = m.gens(table).map(g => s"$dest/$table/$g")
    assert(dirs.nonEmpty, s"table $table has no committed generations")
    val inferred = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    val recorded = m.read(table).get
    assert(recorded.schema == inferred.schema,
      s"$table: recorded ${recorded.schema.simpleString} vs inferred ${inferred.schema.simpleString}")
    assert(sorted(recorded) == sorted(inferred))
  }

  private def source(table: String, hints: TableHints)(df: => DataFrame) =
    SourceDef("s", Seq(ResourceDef(table, hints, _ => df)))

  test("first land, added-column append and widening append read with the recorded schema") {
    val dest = tmpDir("mani-schema-append")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-schema-append-state"), manifestCommit = true)
    val m = pipe.manifest
    val hints = TableHints("logs", Disposition.Append)

    pipe.run(source("logs", hints)(rows(3, "r1")))
    agrees(m, dest, "logs")

    // an added column stays a delta; the older generation reads it as null
    pipe.run(source("logs", hints)(rows(2, "r2").withColumn("extra", lit("x"))))
    assert(m.gens("logs").size == 2)
    agrees(m, dest, "logs")
    assert(m.read("logs").get.columns.toSeq.takeRight(1) == Seq("extra"))
    assert(m.read("logs").get.filter(col("tag") === "r1").filter(col("extra").isNotNull).isEmpty)
    assert(m.read("logs").get.filter(col("tag") === "r2").select("extra").as[String].collect().toSet == Set("x"))

    // int -> double widens the table: a rewrite to one generation
    pipe.run(source("logs", hints)(rows(2, "r3").withColumn("v", col("v") + 0.5)))
    assert(m.gens("logs").size == 1)
    agrees(m, dest, "logs")
    assert(m.read("logs").get.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(m.read("logs").get.count() == 7)
  }

  test("merge, replace and scd2 rewrites record the new table's schema") {
    val dest = tmpDir("mani-schema-rewrite")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-schema-rewrite-state"), manifestCommit = true)
    val m = pipe.manifest

    val merge = TableHints("mt", Disposition.Merge, primaryKey = Seq("id"))
    pipe.run(source("mt", merge)(rows(4, "a")))
    pipe.run(source("mt", merge)(rows(2, "b").withColumn("extra", lit(1L))))
    agrees(m, dest, "mt")
    assert(m.read("mt").get.count() == 4)

    val replace = TableHints("rt", Disposition.Replace)
    pipe.run(source("rt", replace)(rows(4, "a")))
    pipe.run(source("rt", replace)(rows(2, "b").drop("v")))
    agrees(m, dest, "rt")
    assert(!m.read("rt").get.columns.contains("v"), "replace drops the old table's columns")

    def scd2(ts: String) = TableHints("dim", Disposition.Scd2, primaryKey = Seq("id"),
      scd2LoadTs = Some(java.sql.Timestamp.valueOf(ts)))
    pipe.run(source("dim", scd2("2024-03-01 00:00:00"))(rows(3, "a")))
    pipe.run(source("dim", scd2("2024-04-01 00:00:00"))(rows(3, "b")))
    agrees(m, dest, "dim")
    assert(m.read("dim").get.filter(col("_valid_to").isNull).count() == 3)
  }

  test("Normalize child tables and nested non-null types record nullable schemas") {
    val dest = tmpDir("mani-schema-child")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-schema-child-state"), manifestCommit = true)
    val m = pipe.manifest
    val nested = spark.range(1, 4).select(
      col("id"),
      array(struct(col("id").as("x"), lit("k").as("y")), struct(lit(0L).as("x"), lit("z").as("y"))).as("items"),
      struct(col("id").as("a"), lit(1).as("b")).as("owner"))
    pipe.run(source("ord", TableHints("ord", Disposition.Merge, primaryKey = Seq("id")))(nested))
    assert(m.tables.toSet == Set("ord", "ord__items"))
    agrees(m, dest, "ord")
    agrees(m, dest, "ord__items")
    assert(m.read("ord__items").get.count() == 6)

    // a table landed straight through a publish, with non-null nested
    // fields, array elements and map values
    val pub = m.publish("writer")
    pub.land(spark.range(3).select(col("id"), array(col("id")).as("arr"),
      map(lit("k"), col("id")).as("kv"), struct(col("id").as("s")).as("st")),
      TableHints("raw", Disposition.Replace))
    pub.commit()
    agrees(m, dest, "raw")
  }

  test("a fresh manifest sees the committed schema; a manifest without one still reads, then records it") {
    val dest = tmpDir("mani-schema-legacy")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-schema-legacy-state"), manifestCommit = true)
    val hints = TableHints("logs", Disposition.Append)
    pipe.run(source("logs", hints)(rows(3, "r1")))
    pipe.run(source("logs", hints)(rows(2, "r2").withColumn("extra", lit("x"))))
    val before = sorted(pipe.manifest.read("logs").get)

    val fresh = new TableManifest(spark, dest)
    assert(fresh.read("logs").get.schema == pipe.manifest.read("logs").get.schema)
    agrees(fresh, dest, "logs")

    // strip the schema entry, as a manifest written before schemas were
    // recorded has none
    def file = ManifestEpochs.newest(dest)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifestKeys(): Set[String] = {
      import scala.jdk.CollectionConverters._
      mapper.readTree(java.nio.file.Files.readAllBytes(file)).fieldNames().asScala.toSet
    }
    assert(manifestKeys().contains("schemas.logs"))
    val doc = mapper.readTree(java.nio.file.Files.readAllBytes(file))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    doc.remove("schemas.logs")
    java.nio.file.Files.write(file, mapper.writeValueAsBytes(doc))
    assert(!manifestKeys().contains("schemas.logs"))

    val legacy = new TableManifest(spark, dest)
    assert(sorted(legacy.read("logs").get) == before)
    agrees(legacy, dest, "logs")

    // the next land records it again
    new Pipeline(spark, "p", dest, tmpDir("mani-schema-legacy-state2"), manifestCommit = true)
      .run(source("logs", hints)(rows(1, "r3")))
    assert(manifestKeys().contains("schemas.logs"))
    val after = new TableManifest(spark, dest)
    agrees(after, dest, "logs")
    assert(after.read("logs").get.count() == 6)
  }
}
