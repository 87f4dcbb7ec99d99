package graft.core

/** Env-var suite scoping shared by the measurement mains (Bench's
  * SPARK_GRAFT_BENCH_SUITE, BatchScale's SPARK_GRAFT_SCALE_SUITE,
  * StreamScale's SPARK_GRAFT_STREAM_SUITE, AnnScale's
  * SPARK_GRAFT_ANN_FAMILIES), so every main parses, partitions and warns
  * the same way. Contract: csv of query names; unknown names are dropped
  * LOUDLY to stderr, never run and never silently kept; an unset var
  * means the caller's full default suite. */
object EnvSuite {
  def scope(envVar: String, default: Seq[String], isKnown: String => Boolean,
      tag: String): Seq[String] =
    scopeCsv(sys.env.get(envVar), default, isKnown, s"[$tag] $envVar")

  /** Pure core (spec-testable without env mutation): `csvOpt` = None
    * means "no scoping requested" → the full default suite; Some(csv)
    * keeps the asked-for names in their csv order. */
  private[graft] def scopeCsv(csvOpt: Option[String], default: Seq[String],
      isKnown: String => Boolean, label: String): Seq[String] =
    csvOpt match {
      case None => default
      case Some(csv) =>
        val asked = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val (known, unknown) = asked.partition(isKnown)
        if (unknown.nonEmpty)
          System.err.println(
            s"$label names not recognized, skipped: " +
              unknown.mkString(","))
        known
    }
}
