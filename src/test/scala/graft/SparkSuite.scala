package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — Spark startup
  * dominates test wall-clock otherwise). S4 (local-collection source) is
  * exercised implicitly: every spec builds inputs with `Seq(...).toDF`.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Run `body` with [[QueryDef.largeSort]] degraded to a plain `orderBy`.
    * Plan-shape specs need this: the default checkpoint-then-sort hides the
    * query's physical plan behind an RDD scan, and the specs pin
    * pushdown/broadcast/codegen properties of the INNER plan.
    */
  def withPlainSort[A](body: => A): A = {
    spark.conf.set(QueryDef.PlainSortConf, "true")
    try body finally spark.conf.unset(QueryDef.PlainSortConf)
  }
}

object SparkSuite {
  lazy val session: SparkSession =
    Sessions.local("graft-test", "local[4]", "8",
      "spark.sql.warehouse.dir" -> Scratch.dir("graft-warehouse"))
}
