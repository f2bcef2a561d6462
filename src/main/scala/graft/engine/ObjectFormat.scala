package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Opaque native-serialized roundtrip format — the JVM analogue of the
  * reference's pickle sink/source (pandas_aws/s3.py:182-184, :233-234):
  * "dump the DataFrame object as-is, load it back identically".
  *
  * Rows are written distributed via `saveAsObjectFile` (Java serialization,
  * one file per partition — unlike the reference, which pickles the whole
  * frame in driver memory), plus a `_schema.json` sidecar carrying the exact
  * Catalyst schema so the roundtrip preserves types without inference.
  */
object ObjectFormat {

  private val schemaFile = "_schema.json"

  def write(df: DataFrame, uri: String): Unit = {
    val fs = EngineFs.of(df.sparkSession, uri)
    fs.delete(new Path(uri), true)
    df.rdd.map(r => r.toSeq.toArray).saveAsObjectFile(uri)
    val out = fs.create(new Path(new Path(uri), schemaFile), true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
  }

  def read(spark: SparkSession, uri: String): DataFrame = {
    val fs = EngineFs.of(spark, uri)
    val in = fs.open(new Path(new Path(uri), schemaFile))
    val schemaJson = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val rdd = spark.sparkContext.objectFile[Array[Any]](uri).map(Row.fromSeq(_))
    spark.createDataFrame(rdd, schema)
  }
}
