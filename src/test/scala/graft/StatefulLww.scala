package graft.streaming

/** C7 staleness guard as keyed streaming state — the non-storage-resident
  * fallback when the sink is not a transactional table (SURVEY §4):
  * per-key state holds the last-applied LWW timestamp; stale events are
  * dropped before they reach the sink. Prefer the storage-resident MERGE
  * at 100 TB (state lives in the table, not the state store); this exists
  * for sinks without merge support. A spec-only reference: no engine path
  * uses it.
  */
object StatefulLww {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  final case class Rec(synced_id: Long, updated_us: Long, value: Double,
      event_type: String)

  def apply(ds: Dataset[Rec]): Dataset[Rec] = {
    implicit val enc = Encoders.product[Rec]
    implicit val longEnc = Encoders.scalaLong
    ds.groupByKey(_.synced_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[Rec], state: GroupState[Long]) => {
          val prev = state.getOption.getOrElse(Long.MinValue)
          // ties persist (>=), matching synchronizable_model.rb:16-26
          val fresh = rows.filter(_.updated_us >= prev).toSeq
          if (fresh.isEmpty) Iterator.empty
          else {
            val winner = fresh.maxBy(_.updated_us)
            state.update(winner.updated_us)
            Iterator.single(winner)
          }
        })
  }
}
