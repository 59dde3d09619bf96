package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroIo, AvroSource, SourceRegistry}

/** Round-trip coverage for the avro-core container source/sink
  * ([[graft.sources.AvroIo]]) — the full supported type matrix, null
  * handling, multi-file parallelism, and registry dispatch.
  */
class AvroSourceSpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_avro_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("full type matrix survives a write/read round-trip") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("b", BooleanType),
      StructField("i", IntegerType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("ts_ntz", TimestampNTZType),
      StructField("dec", DecimalType(12, 3)),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("nested", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.123456")
    val ntz = java.time.LocalDateTime.parse("2024-03-01T12:34:56.123456")
    val rows = Seq(
      Row(1L, true, 7, 1.5f, 2.25, "hello", Array[Byte](1, 2, 3),
        java.sql.Date.valueOf("2024-03-01"), ts, ntz,
        new java.math.BigDecimal("12345.678"), Seq(1L, 2L, 3L),
        Map("a" -> 1, "b" -> 2), Row(9L, "in")),
      // every field null (nullable-union coverage)
      Row(2L, null, null, null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tmp("types")
    AvroIo.write(df, dir)
    val back = AvroIo.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)))
    val got = back.collect().sortBy(_.getLong(0))
    val r1 = got(0)
    assert(r1.getBoolean(1) && r1.getInt(2) === 7 && r1.getFloat(3) === 1.5f)
    assert(r1.getDouble(4) === 2.25 && r1.getString(5) === "hello")
    assert(r1.getAs[Array[Byte]](6).toSeq === Seq[Byte](1, 2, 3))
    assert(r1.getDate(7).toString === "2024-03-01")
    assert(r1.getTimestamp(8) === ts)
    assert(r1.getAs[java.time.LocalDateTime](9) === ntz)
    assert(r1.getDecimal(10) === new java.math.BigDecimal("12345.678"))
    assert(r1.getSeq[Long](11) === Seq(1L, 2L, 3L))
    assert(r1.getMap[String, Int](12) === Map("a" -> 1, "b" -> 2))
    assert(r1.getStruct(13) === Row(9L, "in"))
    val r2 = got(1)
    (1 until schema.length).foreach(i => assert(r2.isNullAt(i), s"field $i"))
  }

  test("one container file per partition; multi-file read parallelizes") {
    import spark.implicits._
    val df = spark.range(0, 1000).repartition(4)
      .select($"id", ($"id" % 10).as("k"))
    val dir = tmp("parts")
    AvroIo.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length === 4)
    val back = AvroIo.read(spark, dir)
    assert(back.rdd.getNumPartitions >= 2, "per-file decode tasks expected")
    assert(back.count() === 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) === 499500L)
  }

  test("registry dispatches 'avro' and lowercases columns") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "A"), Row(2L, "B")), 1),
      StructType(Seq(StructField("Id", LongType), StructField("NAME", StringType))))
    val dir = tmp("registry")
    AvroIo.write(df, dir)
    val back = SourceRegistry("avro").load(spark, dir, Map.empty)
    assert(back.columns.toSeq === Seq("id", "name"))
    assert(back.count() === 2)
    assert(AvroSource.name === "avro")
  }

  test("schema evolution: old-schema files resolve against the newest reader schema") {
    // File written yesterday with (id, name); file written today with
    // (id, name, score). The reader schema comes from the LAST file
    // (name-sorted = newest layout), and the old file's rows materialize
    // score as its null default — standard Avro resolution.
    val dir = tmp("evolve")
    val oldDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a")), 1),
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))))
    val newDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "b", 0.5)), 1),
      StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("score", DoubleType))))
    AvroIo.write(oldDf, dir)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "part-00000.avro"),
      java.nio.file.Paths.get(dir, "part-00000-v1.avro"))
    AvroIo.write(newDf, dir) // writes part-00000.avro -> sorts after -v1? no:
    // "part-00000-v1.avro" < "part-00000.avro" lexicographically ('-' < '.'),
    // so the v2 file IS last and provides the reader schema.
    val back = AvroIo.read(spark, dir)
    assert(back.columns.toSeq === Seq("id", "name", "score"))
    val rows = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).isNullAt(2), "missing field must resolve to its null default")
    assert(rows(2L).getDouble(2) === 0.5)
    // Explicit reader schema narrows BOTH files to the old shape.
    val narrowed = AvroIo.read(spark, dir,
      Some(AvroIo.toAvroSchema(oldDf.schema, "graft_row").toString))
    assert(narrowed.columns.toSeq === Seq("id", "name"))
    assert(narrowed.count() === 2)
  }

  test("randomized round-trip property: 200 rows of mixed nullable values survive bit-exact") {
    // Seeded-random depth beyond the hand-picked matrix: random nulls at
    // every level (top-level fields, array ELEMENTS, map values), random
    // sizes, negative/extreme numerics, multi-byte strings.
    val rng = new scala.util.Random(20260814)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("l", LongType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("arr", ArrayType(LongType)),
      StructField("m", MapType(StringType, DoubleType))))
    def nOr[T](v: => T): Any = if (rng.nextInt(4) == 0) null else v
    def str(): String = {
      val pool = "aé∑b✓c ß0"
      (0 until rng.nextInt(12)).map(_ => pool(rng.nextInt(pool.length))).mkString
    }
    val rows = (0 until 200).map { i =>
      Row(i.toLong,
        nOr(rng.nextLong()),
        nOr(java.lang.Double.longBitsToDouble(rng.nextLong()) match {
          case d if d.isNaN => 1.25e300 // NaN != NaN breaks equality asserts
          case d => d
        }),
        nOr(str()),
        nOr(Array.fill(rng.nextInt(16))(rng.nextInt().toByte)),
        nOr(Seq.fill(rng.nextInt(6))(nOr(rng.nextLong()).asInstanceOf[Any])),
        nOr((0 until rng.nextInt(4)).map(k => s"k$k" -> nOr(rng.nextDouble())).toMap))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      schema)
    val dir = tmp("prop")
    AvroIo.write(df, dir)
    val back = AvroIo.read(spark, dir).collect().map(r => r.getLong(0) -> r).toMap
    rows.foreach { expect =>
      val got = back(expect.getLong(0))
      (1 until schema.length).foreach { i =>
        val (e, g) = (expect.get(i), got.get(i))
        (e, g) match {
          case (eb: Array[Byte], gb: Array[Byte]) => assert(eb.toSeq === gb.toSeq)
          case (es: Seq[_], gs: Seq[_]) => assert(es === gs, s"row ${expect.getLong(0)} field $i")
          case _ => assert(e === g, s"row ${expect.getLong(0)} field $i")
        }
      }
    }
  }

  test("foreign files: millis timestamps, enum, and fixed decode correctly") {
    // Written directly with avro-core (NOT AvroIo.write) to exercise the
    // shapes foreign writers produce that our own sink never emits:
    // timestamp-millis / local-timestamp-millis longs (Debezium and older
    // writers), enum symbols, raw fixed, and fixed-backed decimal —
    // the r13 ADVICE decode gaps.
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val json =
      """{"type":"record","name":"foreign","fields":[
        |{"name":"id","type":"long"},
        |{"name":"ts_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"lts_ms","type":{"type":"long","logicalType":"local-timestamp-millis"}},
        |{"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN"]}},
        |{"name":"fx","type":{"type":"fixed","name":"Fx","size":4}},
        |{"name":"dec","type":{"type":"fixed","name":"DecFx","size":3,
        |  "logicalType":"decimal","precision":6,"scale":2}}
        |]}""".stripMargin
    val schema = new Schema.Parser().parse(json)
    val millis = 1709296496123L // 2024-03-01T12:34:56.123Z
    val rec = new GenericData.Record(schema)
    rec.put("id", 1L)
    rec.put("ts_ms", millis)
    rec.put("lts_ms", millis)
    rec.put("color", new GenericData.EnumSymbol(schema.getField("color").schema(), "GREEN"))
    rec.put("fx", new GenericData.Fixed(schema.getField("fx").schema(),
      Array(0xDE.toByte, 0xAD.toByte, 0xBE.toByte, 0xEF.toByte)))
    // unscaled 12345, scale 2 -> 123.45; big-endian left-padded to size 3
    rec.put("dec", new GenericData.Fixed(schema.getField("dec").schema(),
      Array[Byte](0x00, 0x30, 0x39)))
    val dir = tmp("foreign")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(dir, "part-00000.avro"))
    w.append(rec)
    w.close()
    val back = AvroIo.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) === Seq(
      ("id", LongType), ("ts_ms", TimestampType), ("lts_ms", TimestampNTZType),
      ("color", StringType), ("fx", BinaryType), ("dec", DecimalType(6, 2))))
    val r = back.collect().head
    assert(r.getTimestamp(1).getTime === millis, "millis must scale to micros, not pass through")
    assert(r.getTimestamp(1).getNanos === 123000000)
    assert(r.getAs[java.time.LocalDateTime](2) ===
      java.time.LocalDateTime.ofEpochSecond(millis / 1000, 123000000, java.time.ZoneOffset.UTC))
    assert(r.getString(3) === "GREEN")
    assert(r.getAs[Array[Byte]](4).toSeq ===
      Seq(0xDE.toByte, 0xAD.toByte, 0xBE.toByte, 0xEF.toByte))
    assert(r.getDecimal(5) === new java.math.BigDecimal("123.45"))
  }

  test("empty partitions write no file; read of the rest is complete") {
    import spark.implicits._
    // 2 rows into 8 partitions: at least 6 partitions are empty and must
    // not produce empty container files.
    val df = spark.range(0, 2).repartition(8).toDF("id")
    val dir = tmp("empty")
    AvroIo.write(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 2)
    assert(AvroIo.read(spark, dir).as[Long].collect().sorted.toSeq === Seq(0L, 1L))
  }
}
