package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("a key the launcher set keeps the launcher's value; the others get graft's") {
    val launcher = new SparkConf(loadDefaults = false)
      .set("spark.master", "spark://cluster:7077")
      .set("spark.sql.shuffle.partitions", "7")
      .set("spark.sql.adaptive.enabled", "false")
      .set("spark.sql.codegen.cache.maxEntries", "50")
    val applied = GraftSession.defaultsUnset(launcher).toMap
    launcher.getAll.foreach { case (k, _) => assert(!applied.contains(k), k) }
    assert(applied("spark.sql.session.timeZone") == "UTC")
    assert(applied("spark.sql.adaptive.skewJoin.enabled") == "true")

    val bare = GraftSession.defaultsUnset(new SparkConf(loadDefaults = false)).toMap
    assert(bare("spark.master") == s"local[${GraftSession.localCores}]")
    assert(bare("spark.sql.shuffle.partitions") == GraftSession.localCores.toString)
    assert(bare("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(bare("spark.sql.codegen.useIdInClassName") == "false")
  }
}
