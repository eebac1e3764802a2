package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Regression guard for the events `ts` load normalization
  * (`Tables.load`). The driver has shipped events.parquet with three
  * physical encodings across generations — nanos-as-LONG, TIMESTAMP_NTZ
  * (micros, isAdjustedToUTC=false) and TIMESTAMP (micros, UTC) — and round
  * 12 lost 47 registry queries to an unconditional nanos-LONG assumption.
  * Each encoding is written in-test and must load to the identical
  * TimestampType instants.
  */
class TablesSpec extends SparkSpec {

  private val micros: Seq[Long] =
    Seq(0L, 1700000000000000L, 1700000123456789L)

  private def loadTs(dir: String): Seq[Long] =
    Tables.load(spark, dir, "events")
      .select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq.sorted

  private def freshDir(): String =
    Files.createTempDirectory("graft_tables_spec").toString

  test("events ts: nanos-as-LONG encoding loads to µs timestamps") {
    import spark.implicits._
    val dir = freshDir()
    micros.map(us => (1L, us * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(loadTs(dir) === micros)
    assert(Tables(spark, dir, "events").schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("events ts: TIMESTAMP_NTZ encoding loads to µs timestamps") {
    import spark.implicits._
    val dir = freshDir()
    micros.map(us => (1L, us)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(loadTs(dir) === micros)
    assert(Tables(spark, dir, "events").schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("events ts: native TIMESTAMP encoding passes through") {
    import spark.implicits._
    val dir = freshDir()
    queries.Confs.scoped(spark, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(
      micros.map(us => (1L, us)).toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet"))
    assert(loadTs(dir) === micros)
  }

  test("events ts: the driver's actual sf0.001 events table loads") {
    val df = Tables(spark, sf, "events")
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(df.filter(col("ts").isNotNull).limit(1).count() === 1L)
  }

  test("events ts predicates push down to the parquet scan") {
    // NTZ inference is disabled at load, so the scan yields TimestampType
    // directly and a ts range predicate must reach PushedFilters — a cast
    // on top of an NTZ scan would silently drop row-group pruning.
    // scanPlan plans past the table cache, so the parquet scan shows even
    // though the events frame is cached.
    val plan = PlanDump.scanPlan(Tables(spark, sf, "events")
      .filter(col("ts") >= lit("2024-01-02").cast("timestamp"))).toString
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("ts"), s"no ts in PushedFilters: $pushed")
    assert(!pushed.contains("PushedFilters: []"), pushed)
  }

  /** Testdata-drift sentinel for EVERY table, not just events: the driver
    * regenerates the parquet between rounds, and a silent dtype change is
    * exactly how round 12 lost 28% of the registry. Loaded dtypes the
    * engine's queries/oracles depend on are pinned here so drift fails in
    * the FIRST test run of a round with a message naming the column.
    */
  test("driver testdata schemas match the dtypes the registry depends on") {
    val expected = Map(
      "region" -> Map("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Map("n_nationkey" -> "int", "n_regionkey" -> "int"),
      "customer" -> Map("c_custkey" -> "bigint", "c_nationkey" -> "int",
        "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> Map("s_suppkey" -> "bigint", "s_nationkey" -> "int",
        "s_acctbal" -> "double"),
      "part" -> Map("p_partkey" -> "bigint", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> Map("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_totalprice" -> "double"),
      "lineitem" -> Map("l_orderkey" -> "bigint", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double",
        "l_returnflag" -> "string"),
      "events" -> Map("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"),
      "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Map("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"))
    for ((table, cols) <- expected) {
      val schema = Tables.load(spark, sf, table).schema
      for ((name, dtype) <- cols) {
        val f = schema.fields.find(_.name == name)
        assert(f.isDefined, s"$table.$name missing — driver testdata drifted")
        assert(f.get.dataType.simpleString == dtype,
          s"$table.$name is ${f.get.dataType.simpleString}, expected $dtype " +
            "— driver testdata drifted; audit Tables.load normalization")
      }
    }
  }

  /** Physical-encoding sentinel (footer-level, below Spark's logical
    * schema): the loaded-dtype pin above can't see a physical re-encoding
    * that Spark happens to normalize the same way today but a future
    * Spark/driver combination might not (the round-12 lesson was exactly a
    * physical ts change). Pins the parquet PRIMITIVE types of the columns
    * whose encodings have drifted or could: documents/embeddings
    * strings-and-arrays, and events.ts (INT64 in any of the three
    * generations Tables.load handles — micros-NTZ, micros-UTC, nanos —
    * but never INT96 or a narrower width).
    */
  test("parquet footers carry the physical encodings Tables.load handles") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(table: String): org.apache.parquet.schema.MessageType = {
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(s"$sf/$table.parquet"), conf))
      try r.getFileMetaData.getSchema finally r.close()
    }
    def field(m: org.apache.parquet.schema.MessageType, col: String) =
      m.getType(m.getFieldIndex(col))
    def primitive(m: org.apache.parquet.schema.MessageType, col: String) =
      field(m, col).asPrimitiveType.getPrimitiveTypeName.name

    val docs = footer("documents")
    for (c <- Seq("text", "lang", "source")) {
      assert(primitive(docs, c) == "BINARY",
        s"documents.$c physical is ${primitive(docs, c)} — driver re-encoded")
      assert(
        field(docs, c).getLogicalTypeAnnotation.toString == "STRING",
        s"documents.$c logical annotation drifted")
    }
    assert(primitive(docs, "doc_id") == "INT64")

    val emb = footer("embeddings")
    val embField = field(emb, "embedding")
    assert(!embField.isPrimitive && embField.getLogicalTypeAnnotation != null
        && embField.getLogicalTypeAnnotation.toString == "LIST",
      s"embeddings.embedding is no longer a LIST group: $embField")
    val element = embField.asGroupType.getType(0).asGroupType.getType(0)
    assert(element.asPrimitiveType.getPrimitiveTypeName.name == "FLOAT",
      s"embeddings.embedding element physical drifted: $element " +
        "— ANN literals/oracles assume FLOAT")
    assert(primitive(emb, "vec_id") == "INT64")
    assert(primitive(emb, "label") == "INT32")

    val ev = footer("events")
    assert(primitive(ev, "ts") == "INT64",
      s"events.ts physical is ${primitive(ev, "ts")} — Tables.load only " +
        "handles the INT64 generations (micros-NTZ, micros-UTC, nanos); " +
        "extend its normalization before trusting any query result")
  }
}
