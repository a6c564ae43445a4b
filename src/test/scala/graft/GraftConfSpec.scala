package graft

import org.scalatest.funsuite.AnyFunSuite

/** The typed run configuration: defaults, parsing and the loud rejection
  * of bad knob values — all from supplied maps, never the process env. */
class GraftConfSpec extends AnyFunSuite {
  private def conf(kv: (String, String)*): GraftConf =
    GraftConf.fromEnv(kv.map { case (k, v) => s"SPARK_GRAFT_$k" -> v }.toMap)

  private def rejects(kv: (String, String)*)(msg: String): Unit = {
    val e = intercept[IllegalArgumentException](conf(kv: _*))
    assert(e.getMessage.contains(msg), e.getMessage)
  }

  test("an empty environment gives the documented defaults") {
    val c = GraftConf.fromEnv(Map.empty)
    assert(c.cpus == Runtime.getRuntime.availableProcessors)
    assert(c.shufflePartitions.isEmpty)
    assert(c.sfDir == s"${GraftConf.DataRoot}/sf0.1")
    assert(c.warmRuns == 5)
    assert(c.lshMaxBucket == GraftConf.DefaultLshMaxBucket && c.lshMaxBucket == 100000)
    assert(c.lshKeyBits.isEmpty)
    assert(c.ckptDir.isEmpty && c.docsDir.isEmpty)
    assert(c.benchOut.isEmpty && c.streambenchOut.isEmpty && c.master.isEmpty)
    assert(c.benchOnly.isEmpty && c.benchOnlyQueries.isEmpty)
    assert(c.streamOnly.isEmpty)
  }

  test("set knobs parse into their typed fields") {
    val c = GraftConf.fromEnv(Map(
      "SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "128",
      "SPARK_GRAFT_SF_DIR" -> "/data/sf1", "SPARK_GRAFT_WARM_RUNS" -> "1",
      "SPARK_GRAFT_LSH_KEY_BITS" -> " 15 ", "SPARK_GRAFT_LSH_MAX_BUCKET" -> "3",
      "SPARK_GRAFT_CKPT_DIR" -> "/ckpt",
      "SPARK_GRAFT_STREAM_ONLY" -> "dedup, lsh_tag,", "SPARK_MASTER" -> "spark://m:7077"))
    assert(c.cpus == 8 && c.shufflePartitions.contains(128) && c.sfDir == "/data/sf1")
    assert(c.warmRuns == 1 && c.lshKeyBits.contains(15) && c.lshMaxBucket == 3)
    assert(c.ckptDir.contains("/ckpt"))
    assert(c.streamOnly == Set("dedup", "lsh_tag"))
    assert(c.master.contains("spark://m:7077"))
  }

  test("BENCH_ONLY resolves against the registry, in registry order") {
    val c = conf("BENCH_ONLY" -> "q22_minhash_lsh,q01_groupby_agg")
    assert(c.benchOnlyQueries.get.map(_.name) ==
      Queries.all.map(_.name).filter(Set("q01_groupby_agg", "q22_minhash_lsh")))
  }

  test("an unknown BENCH_ONLY name is rejected") {
    val e = intercept[IllegalArgumentException](
      conf("BENCH_ONLY" -> "q01_groupby_agg,q01_groupby_agq").benchOnlyQueries)
    assert(e.getMessage.contains("q01_groupby_agq"), e.getMessage)
    rejects("BENCH_ONLY" -> " , ")("SPARK_GRAFT_BENCH_ONLY names nothing")
  }

  test("LSH_KEY_BITS outside [4, 15] or not an integer is rejected") {
    rejects("LSH_KEY_BITS" -> "3")("SPARK_GRAFT_LSH_KEY_BITS must be in [4, 15], got 3")
    rejects("LSH_KEY_BITS" -> "16")("SPARK_GRAFT_LSH_KEY_BITS must be in [4, 15], got 16")
    rejects("LSH_KEY_BITS" -> "wide")("SPARK_GRAFT_LSH_KEY_BITS must be an integer, got 'wide'")
    assert(conf("LSH_KEY_BITS" -> "4").lshKeyBits.contains(4))
  }

  test("a non-integer LSH_MAX_BUCKET is rejected") {
    rejects("LSH_MAX_BUCKET" -> "1e5")("SPARK_GRAFT_LSH_MAX_BUCKET must be an integer, got '1e5'")
  }

  test("WARM_RUNS, CPUS and SHUFFLE_PARTITIONS below 1 are rejected") {
    rejects("WARM_RUNS" -> "0")("SPARK_GRAFT_WARM_RUNS must be >= 1, got 0")
    rejects("CPUS" -> "0")("SPARK_GRAFT_CPUS must be >= 1, got 0")
    rejects("CPUS" -> "*")("SPARK_GRAFT_CPUS must be an integer, got '*'")
    rejects("SHUFFLE_PARTITIONS" -> "-2")("SPARK_GRAFT_SHUFFLE_PARTITIONS must be >= 1, got -2")
  }
}
