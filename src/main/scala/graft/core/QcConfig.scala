package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-entry parts of the QC configuration (reference
  * `conf/config.yaml:185-516` + `src/yaml_schema.py`): stabilization and
  * dependent-quantity entries, which `graft.pipeline.QcMain.Config`
  * holds as lists; `graft.pipeline.ConfigLoader` parses the document
  * into that one `Config`.
  *
  * Per-stream bounds materialize as a small DataFrame broadcast-joined
  * onto the observations on `datastream_id` ([[QcConfig.joinOnto]],
  * reference `src/main.py:500-516`) — at 100 TB the observation side
  * streams through while the ~hundreds-row config side ships to every
  * executor.
  */
final case class StabilizationConf(
    datastreamId: Long,
    rangeMin: Double,
    rangeMax: Double,
    /** BAD until this much uptime since the last long outage (reference `dt_stabilization: 20min`) */
    dtStabilizationSec: Long,
    /** outage counts as "long" above this (reference `max_allowed_downtime: 15min`) */
    maxAllowedDowntimeSec: Long
)

/** Dependent-quantity propagation config (reference `QC_dependent`,
  * `conf/config.yaml`, `README.adoc:257-268`).
  */
final case class DependentConf(
    independentId: Long,
    dependentId: Long,
    /** |Δt| tolerance for the as-of match, microseconds (reference `dt_tolerance: 0.5s`) */
    dtToleranceUs: Long,
    /** flag for dependent rows with no independent partner; None = leave untouched */
    flagWhenMissing: Option[Byte] = Some(Flags.Bad),
    /** independent-value range for the secondary check (reference QC.range) */
    secondaryRange: Option[(Double, Double)] = None
)

object QcConfig {

  /** Left-join config onto observations; row count is preserved by
    * construction (left join on a unique key — the reference asserts this
    * at `src/main.py:720-721`). Broadcast: config is tiny, observations
    * are not.
    */
  def joinOnto(obs: DataFrame, conf: DataFrame): DataFrame =
    obs.join(broadcast(conf), Seq(Obs.DatastreamId), "left")
}
