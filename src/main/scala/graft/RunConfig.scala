package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every `SPARK_GRAFT_*` variable the mains read, parsed once at startup.
  * A malformed value fails here with a message naming the variable, never
  * as a silent default or an opaque error hours into a sweep; so does a
  * `SPARK_GRAFT_*` name outside `Names` (a retired or misspelled knob
  * would otherwise run the default posture and exit 0).
  *
  *  - `SPARK_GRAFT_SF_DIR`: table directory (Bench, StreamBench);
  *  - `SPARK_GRAFT_CPUS`: `local[N]` cores and shuffle partitions;
  *  - `SPARK_GRAFT_PASSES`: Bench's timed passes per query (median);
  *  - `SPARK_GRAFT_ONLY` / `SPARK_GRAFT_SKIP`: comma lists of catalog
  *    query names Bench times / leaves out; an unknown name is an error;
  *  - `SPARK_GRAFT_FORK`: Bench runs each query in a fresh child JVM;
  *  - `SPARK_GRAFT_CONF`: `k=v;k=v` Spark confs applied over the session
  *    posture (Bench, StreamBench);
  *  - `SPARK_GRAFT_SINGLE_FILE`: the fixture is one file per table, so
  *    map-heavy queries spread the scan (Bench);
  *  - `SPARK_GRAFT_GC_SETTLE`: full GC + pause before each timed pass. */
final case class RunConfig(
    sfDir: String,
    cpus: Int,
    passes: Int,
    only: Option[Seq[String]],
    skip: Seq[String],
    fork: Boolean,
    conf: Seq[(String, String)],
    singleFile: Boolean,
    gcSettle: Boolean) {

  /** The catalog queries Bench runs: ONLY's names (all when unset) minus
    * SKIP's. */
  def selected: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) && !skip.contains(n) }
}

object RunConfig {

  /** The variables `from` parses; README "Running" lists the same set. */
  val Names: Seq[String] = Seq("SF_DIR", "CPUS", "PASSES", "ONLY", "SKIP",
    "FORK", "CONF", "SINGLE_FILE", "GC_SETTLE").map("SPARK_GRAFT_" + _)

  def fromEnv(): RunConfig = from(sys.env)

  def from(env: Map[String, String]): RunConfig = {
    val unknown = env.keys.filter(k => k.startsWith("SPARK_GRAFT_") && !Names.contains(k))
    require(unknown.isEmpty, s"unknown variables ${unknown.toSeq.sorted.mkString(", ")}; " +
      s"RunConfig reads ${Names.mkString(", ")}")
    def positive(name: String, default: Int): Int = env.get(name).fold(default) { raw =>
      val n = raw.trim.toIntOption
      require(n.exists(_ >= 1), s"$name must be a positive integer, got '$raw'")
      n.get
    }
    def flag(name: String, default: Boolean): Boolean = env.get(name).fold(default) {
      case "true"  => true
      case "false" => false
      case raw     => throw new IllegalArgumentException(
        s"$name must be true or false, got '$raw'")
    }
    def names(name: String) = env.get(name).map(queryNames(_, name))
    RunConfig(
      sfDir = env.get("SPARK_GRAFT_SF_DIR").getOrElse("/root/testdata/sf0.1"),
      cpus = positive("SPARK_GRAFT_CPUS", 4),
      passes = positive("SPARK_GRAFT_PASSES", 3),
      only = names("SPARK_GRAFT_ONLY"),
      skip = names("SPARK_GRAFT_SKIP").getOrElse(Nil),
      fork = flag("SPARK_GRAFT_FORK", false),
      conf = env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
        .map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"SPARK_GRAFT_CONF entries must be key=value, got '$kv'")
          kv.substring(0, i) -> kv.substring(i + 1)
        },
      singleFile = flag("SPARK_GRAFT_SINGLE_FILE", true),
      gcSettle = flag("SPARK_GRAFT_GC_SETTLE", false))
  }

  /** A comma list of catalog query names; fails listing every name the
    * catalog does not have, so a typo cannot silently select nothing. */
  def queryNames(raw: String, source: String): Seq[String] = {
    val ns = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = ns.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"$source names unknown queries: ${unknown.mkString(", ")}")
    ns
  }
}
