package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.partitioners.AdaptiveLshSfcPartitioner
import graft.streaming.VectorStreamJob.{Routed, StreamEvent}

/**
 * P5's adaptive router as its own stateful streaming operator, at the
 * reference's topology: the partitioner runs at parallelism 1 and keeps
 * its range history as operator state
 * (lsh/LSHashSpaceFillingPartitioner.java — the operator re-learns
 * equi-depth boundaries every updateInterval and fans queries over all
 * still-fresh historical ranges).
 *
 * State per batch = the serialized range history (a few KB of hash
 * params + boundaries) plus a bounded ring of recent insert vectors (the
 * re-fit sample). Both are O(model), never O(data), so the per-batch
 * state round-trip is cheap. Routing decisions:
 *
 *  - insert: by the version in effect at its event time; the vector
 *    joins the re-fit ring;
 *  - every `updateInterval` of event time: boundaries are re-learned
 *    from the ring, a new range version opens, versions older than the
 *    maximum freshness window are expired;
 *  - query: union fan-out over still-fresh versions (isFresh);
 *  - delete: value-less to all partitions; with a vector, to every
 *    partition its insert may have reached within maxTtl.
 *
 * Downstream, the routed stream feeds the keyed store operator
 * ([[VectorStreamJob.partials]]). Spark does chain two Append-mode
 * `flatMapGroupsWithState` operators in one query; [[runPipeline]]
 * still runs router and store as two queries bridged by an exactly-once
 * channel (e.g. Kafka or files) — the same split the reference has
 * between its partitioner operator and keyed backends — so the
 * parallelism-1 router and the keyed store checkpoint and restart
 * independently.
 */
object AdaptiveRouter {

  final case class RouterState(modelBytes: Array[Byte],
      ring: Array[Array[Float]], ringPos: Int, lastFit: Long)

  private def serialize(m: AdaptiveLshSfcPartitioner): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(m); oos.close(); bos.toByteArray
  }
  private def deserialize(b: Array[Byte]): AdaptiveLshSfcPartitioner = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
    val m = ois.readObject().asInstanceOf[AdaptiveLshSfcPartitioner]
    ois.close(); m
  }

  /** The full adaptive pipeline as two streaming queries bridged by an
   * exactly-once parquet file channel (a file-source commit is atomic, so
   * a query's whole fan-out — routed in one upstream batch — arrives in
   * one downstream trigger and the completeness counter holds):
   * events -> adaptive route -> files -> keyed store -> merge -> sink.
   * Returns (routerQuery, searchQuery); stop both to shut down. */
  def runPipeline(events: Dataset[StreamEvent], init: AdaptiveLshSfcPartitioner,
      updateInterval: Long, maxTtl: Long, k: Int, metric: graft.Metric,
      bridgeDir: String, checkpointRoot: String, useHnsw: Boolean = false)(
      sink: org.apache.spark.sql.DataFrame => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         org.apache.spark.sql.streaming.StreamingQuery) = {
    val spark = events.sparkSession
    import spark.implicits._
    val router = route(events, init, updateInterval, maxTtl)
      .writeStream.outputMode(OutputMode.Append)
      .format("parquet").option("path", bridgeDir)
      .option("checkpointLocation", s"$checkpointRoot/router")
      .start()
    val routed = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Routed].schema)
      .parquet(bridgeDir).as[Routed]
    val partials =
      if (useHnsw) VectorStreamJob.partialsHnsw(routed, metric, maxTtl)
      else VectorStreamJob.partials(routed, metric, maxTtl)
    val search = partials.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$checkpointRoot/search")
      .foreachBatch { (batch: Dataset[VectorStreamJob.PartialResult], _: Long) =>
        // trigger-bounded: one trigger's partials
        val parts = batch.collect().toSeq
        val s = batch.sparkSession
        import s.implicits._
        sink(VectorStreamJob.mergePartialsLocal(parts, k).toDF())
      }
      .start()
    (router, search)
  }

  def route(events: Dataset[StreamEvent], init: AdaptiveLshSfcPartitioner,
      updateInterval: Long, maxTtl: Long, ringCap: Int = 2048): Dataset[Routed] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(updateInterval > 0)
    events.groupByKey(_ => 0).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (_: Int, evs: Iterator[StreamEvent], state: GroupState[RouterState]) => {
        var model = state.getOption.map(s => deserialize(s.modelBytes))
          .getOrElse(init)
        val ring = new Array[Array[Float]](ringCap)
        var ringN = 0 // filled prefix length
        var ringPos = 0
        state.getOption.foreach { s =>
          // clamp against a restart with a smaller ringCap than the run
          // that wrote the checkpoint (copyToArray truncates silently; the
          // positions must truncate with it)
          s.ring.copyToArray(ring)
          ringN = math.min(s.ring.length, ringCap)
          ringPos = if (ringN < ringCap) ringN else s.ringPos % ringCap
        }
        var lastFit = state.getOption.map(_.lastFit)
          .getOrElse(init.versions.head.fromTime)

        val out = scala.collection.mutable.ArrayBuffer.empty[Routed]
        evs.toArray.sortBy(e => (e.eventTime, e.id)).foreach { ev =>
          val now = System.currentTimeMillis()
          // re-learn boundaries once the update interval of INSERT event
          // time has elapsed — only data advances the re-fit clock (the
          // reference re-learns from retained hashes of the data stream);
          // a query or delete with a skewed/sentinel timestamp must not
          // trigger a refit or expire the range history
          if (ev.kind == "i" &&
              ev.eventTime >= lastFit + updateInterval && ringN > 0) {
            model = model.refit(ring.take(ringN), ev.eventTime)
              .expire(ev.eventTime - maxTtl)
            lastFit = ev.eventTime
            ringN = 0; ringPos = 0
          }
          ev.kind match {
            case "i" =>
              ring(ringPos) = ev.vec
              ringPos = (ringPos + 1) % ringCap
              if (ringN < ringCap) ringN += 1
              model.dataPartitions(ev.vec, ev.id, ev.eventTime)
                .foreach(p => out += Routed(p, 0, ev, now))
            case "d" =>
              val ps =
                if (ev.vec == null) model.deleteAllPartitions
                else model.deleteDataPartitions(ev.vec, ev.id, ev.eventTime, maxTtl)
              ps.foreach(p => out += Routed(p, 0, ev, now))
            case "q" =>
              val ps = model.queryPartitions(ev.vec, ev.eventTime,
                math.min(ev.ttl, maxTtl))
              ps.foreach(p => out += Routed(p, ps.length, ev, now))
            case "s" =>
              // DUMP: every partition, negated fan-out count — the same
              // marker VectorStreamJob.route stamps
              val ps = model.deleteAllPartitions
              ps.foreach(p => out += Routed(p, -ps.length, ev, now))
          }
        }
        state.update(RouterState(serialize(model), ring.take(ringN),
          ringPos, lastFit))
        out.iterator
      })
  }
}
