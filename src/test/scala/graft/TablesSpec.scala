package graft

import java.nio.file.Files

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

class TablesSpec extends SparkTestBase {

  test("schema cache keys on schema-affecting parquet confs (binaryAsString)") {
    // an unannotated BINARY column, written without Spark's own schema
    // metadata (which would pin the type and hide the conf)
    val dir = Files.createTempDirectory("graft-tables").toString
    val schema = MessageTypeParser.parseMessageType("message m { required binary v; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/bin.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("v", "x"))
    finally w.close()
    def vType = Tables(spark, dir, "bin").schema("v").dataType
    val key = "spark.sql.parquet.binaryAsString"
    assert(vType == BinaryType)
    spark.conf.set(key, "true")
    try assert(vType == StringType)
    finally spark.conf.unset(key)
    assert(vType == BinaryType)
  }
}
