package graft.sources

import graft.SparkSpec

/** Table loaders: column types the queries rely on, whatever the testdata
  * flavor. */
class TablesSpec extends SparkSpec {

  test("events.ts always normalizes to a microsecond ltz TIMESTAMP") {
    // the driver's testdata has shipped ts as nanos-as-long, naive micros
    // (ntz) and ltz across rounds; every flavor must surface as TIMESTAMP
    // (ltz) or unix_micros-based queries fail analysis (r09 regression)
    assert(Tables.events(spark, sf()).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // and the streaming source agrees with the batch loader
    assert(graft.streaming.Streams.eventStream(spark, sf()).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }
}
