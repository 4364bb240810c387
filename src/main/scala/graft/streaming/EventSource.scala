package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pluggable transport boundary of the consumer lane.
  *
  * The reference consumes Avro fetch events from Kafka
  * (`streaming/consumer.py:27-41`: consumer group, poll loop,
  * commit-after-process); this repo's zero-egress stand-in is a file
  * stream. The boundary makes the swap explicit and PROVABLE: a
  * transport's only obligation is to produce parsed fetch events in
  * the [[FetchEventStream.parseEvents]] output shape (the fetch-event
  * columns plus `raw`/`valid`, bad records flagged — never dropped),
  * and every downstream stage ([[FetchEventStream.validEvents]],
  * `deadLetters`, `dedupedEvents`, `normalizeToSilver`,
  * `windowedHealth`) composes against that shape only. A `success`
  * event's `path` names the bronze file holding its payload, relative
  * to the lake root (`bronze/<file>`, as the reference writes it) or
  * absolute; the consumer reads only the files its events name (see
  * [[FetchEventStream.normalizeToSilver]]). A success with a null
  * `path` is routed to the dead-letter feed by `validEvents`/
  * `deadLetters` — for every transport, since no transport has to
  * flag it. The spec runs
  * the SAME normalize-upsert graph from two transports and asserts
  * identical silver tables — transport-independence as a test, not a
  * comment.
  *
  * A real Kafka deployment plugs in as a third implementation reading
  * `spark.readStream.format("kafka")` (the source's (key, value)
  * binary frames are exactly [[AvroWireSource]]'s input shape);
  * at-least-once + checkpointed offsets carry over unchanged because
  * the downstream graph never sees the transport.
  */
trait EventSource {
  /** Parsed fetch events ([[FetchEventStream.parseEvents]] shape). */
  def events(spark: SparkSession): DataFrame
}

/** JSON-lines file transport: one serialized fetch event per line
  * under `dir` (the reference's bronze-adjacent stand-in). */
case class JsonLinesSource(dir: String) extends EventSource {
  def events(spark: SparkSession): DataFrame =
    FetchEventStream.parseEvents(FetchEventStream.readRaw(spark, dir))
}

/** Kafka-wire transport: frames in the Kafka source shape — a binary
  * `value` column carrying an Avro-encoded `FetchEvent` (plus whatever
  * key/metadata columns the transport adds, ignored here). `open`
  * supplies the frame stream; pass
  * `s => s.readStream.format("kafka")...load()` against a real broker,
  * or any file/memory stream of the same shape in tests. */
case class AvroWireSource(open: SparkSession => DataFrame) extends EventSource {
  def events(spark: SparkSession): DataFrame =
    AvroWire.decodeFetchEvents(open(spark))
}

/** The real-broker transport: `readStream.format("kafka")` frames
  * (binary `key`/`value` — exactly [[AvroWireSource]]'s input shape)
  * from `topic` at `bootstrap`, decoded by the same Confluent-framed
  * Avro path every fake-broker spec proves. Requires the
  * spark-sql-kafka connector on the classpath — present wherever a
  * broker is (the zero-egress sandbox has neither, so the opt-in
  * `IntegrationSpec` gates on `KAFKA_BOOTSTRAP`). This is the one-line
  * swap the [[EventSource]] boundary exists for: every downstream
  * stage (`validEvents` → `normalizeToSilver[Tx]`, `dedupedEvents`,
  * `windowedHealth`) composes unchanged. */
object KafkaEventSource {
  def apply(bootstrap: String, topic: String,
      startingOffsets: String = "earliest"): EventSource =
    AvroWireSource(s => s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load())
}
