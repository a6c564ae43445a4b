package graft

/** The engine's run configuration: every `SPARK_GRAFT_*` knob, parsed and
  * validated in one place. [[GraftConf.current]] reads the process
  * environment once; this file is the only one under `src/main` that
  * touches it (EnvGuardSpec holds that). Library code and mains read the
  * typed fields, so each knob has one name, one type, one default and one
  * error message. The README's knob table says who sets each one.
  * `SPARK_MASTER` ([[master]]) is the cluster master for `Pipeline.main`,
  * the one entry that may run outside local mode. */
final case class GraftConf(
    cpus: Int,
    shufflePartitions: Option[Int],
    sfDir: String,
    benchOut: Option[String],
    benchOnly: Option[Set[String]],
    warmRuns: Int,
    ckptDir: Option[String],
    lshKeyBits: Option[Int],
    lshMaxBucket: Int,
    docsDir: Option[String],
    master: Option[String])

object GraftConf {
  /** Default root of the generated datasets (`sf0.001` … `sf0.1`). */
  val DataRoot: String = s"${sys.props("user.home")}/testdata"

  /** Production LSH bucket cap; see `Dedup.DefaultMaxBucket`. */
  val DefaultLshMaxBucket: Int = 100000

  /** The process environment, parsed once. */
  lazy val current: GraftConf = fromEnv(sys.env)

  /** Parses and validates a knob map (the environment, or a spec's map). */
  def fromEnv(env: Map[String, String]): GraftConf = {
    def get(knob: String): Option[String] = env.get(s"SPARK_GRAFT_$knob")
    def int(knob: String): Option[Int] = get(knob).map(s => s.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_$knob must be an integer, got '$s'")))
    def positive(knob: String): Option[Int] = int(knob).map { v =>
      require(v >= 1, s"SPARK_GRAFT_$knob must be >= 1, got $v"); v
    }
    def names(knob: String): Option[Set[String]] = get(knob).map { s =>
      val ns = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(ns.nonEmpty, s"SPARK_GRAFT_$knob names nothing: '$s'")
      ns
    }
    GraftConf(
      cpus = positive("CPUS").getOrElse(Runtime.getRuntime.availableProcessors),
      shufflePartitions = positive("SHUFFLE_PARTITIONS"),
      sfDir = get("SF_DIR").getOrElse(s"$DataRoot/sf0.1"),
      benchOut = get("BENCH_OUT"),
      benchOnly = names("BENCH_ONLY"),
      warmRuns = positive("WARM_RUNS").getOrElse(5),
      ckptDir = get("CKPT_DIR"),
      lshKeyBits = int("LSH_KEY_BITS").map { w =>
        require(w >= 4 && w <= 15, s"SPARK_GRAFT_LSH_KEY_BITS must be in [4, 15], got $w"); w
      },
      lshMaxBucket = int("LSH_MAX_BUCKET").getOrElse(DefaultLshMaxBucket),
      docsDir = get("DOCS_DIR"),
      master = env.get("SPARK_MASTER"))
  }
}
