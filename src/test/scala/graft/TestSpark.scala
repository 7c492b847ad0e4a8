package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Observation

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Graft.localSession("graft-test", "4")

  /** A store plan's rows (the seven observation columns), collected as
    * the [[Observation]]s the serving methods answer. */
  def observations(df: DataFrame): Seq[Observation] =
    df.collect().toSeq.map(r => Observation(r.getAs[String]("rrname"),
      r.getAs[String]("sensor_id"), r.getAs[String]("rrtype"),
      r.getAs[String]("rdata"), r.getAs[Long]("count"),
      r.getAs[java.sql.Timestamp]("first_seen"),
      r.getAs[java.sql.Timestamp]("last_seen")))
}
