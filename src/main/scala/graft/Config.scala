package graft

/** The reference task's own configuration (SURVEY.md §2 A3): the
  * reference validates its env against a typed schema with defaults
  * (`ShareId: string`, `DEBUG` boolean defaulting false; the
  * reference's `task.ts:8-16,63-66`) and aborts on a missing required
  * key. Same contract here: typed fields, declared defaults, fail-fast on
  * absent required keys. The engine's run environment (`SPARK_GRAFT_*`)
  * is [[Session.env]]'s.
  */
final case class Config(
    shareId: String,
    debug: Boolean = false,
    /** A9 strict-fidelity arm: replicate the reference's JS coercion of
      * present-but-null style values (`String(null)`="null",
      * `Number(null)`=0, `task.ts:116-120`) instead of the engine's
      * default nullify (the one deliberate reference delta —
      * [[graft.operators.CalTopo]] divergence notes). Off by default:
      * "null"-the-string and 0-opacity are corrupt style data no
      * consumer wants unless migrating bit-for-bit.
      */
    strictJsSemantics: Boolean = false,
    /** Incremental state cursor for the map pull: the reference URL is
      * `/api/v1/map/<ShareId>/since/<T>` with T hardcoded to -500 = full
      * state (`task.ts:68`). A non-negative T pulls only features updated
      * since T; [[graft.sources.GeoJsonSource]] honors the same value as
      * its `since` read option for non-HTTP fetch units.
      */
    since: Long = -500L) {

  /** Read options for [[graft.sources.GeoJsonSource]] rendered from this
    * config: the incremental cursor plus the fetch-side `verbose: DEBUG`
    * pass-through (`task.ts:87` — the reference hands `env.DEBUG` to its
    * typed fetch). `debug=true` turns on per-exchange transport logging
    * ([[graft.sources.TransportLog]]).
    */
  def scanOptions: Map[String, String] =
    Map("since" -> since.toString, "verbose" -> debug.toString)

  /** Writer options for [[graft.sources.FeatureCollectionSink]]: the
    * submit-side `verbose: DEBUG` (`task.ts:158`).
    */
  def sinkOptions: Map[String, String] =
    Map("verbose" -> debug.toString)
}

object Config {
  /** Parse from an env-style map; missing required key => IllegalArgument
    * (the reference's schema-validation abort), bad boolean/long => same.
    */
  def fromEnv(env: Map[String, String]): Config = {
    val shareId = env.getOrElse("SHARE_ID",
      throw new IllegalArgumentException("SHARE_ID is required"))
    def bool(k: String, dflt: Boolean) = env.get(k) match {
      case None => dflt
      case Some("true") => true
      case Some("false") => false
      case Some(v) =>
        throw new IllegalArgumentException(s"$k must be true/false, got '$v'")
    }
    def long(k: String, dflt: Long) = env.get(k).map { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$k must be a long, got '$v'")
      }
    }.getOrElse(dflt)
    Config(
      shareId = shareId,
      debug = bool("DEBUG", dflt = false),
      strictJsSemantics = bool("GRAFT_STRICT_JS", dflt = false),
      since = long("GRAFT_SINCE", -500L))
  }
}
