package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** How events ARRIVE — the first question a production streaming
  * pipeline answers, factored out of the operators so the answer is a
  * VALUE, not a rewrite. Every staged-batch operator in [[Streams]] is
  * written against this trait; swapping the in-container file replay
  * for a Kafka subscription changes `Streams.source`, and no operator
  * plan changes — both transports hand Spark the same streaming
  * DataFrame abstraction, which is the entire point of Structured
  * Streaming's source API.
  */
trait StreamSource {

  /** A streaming DataFrame with `schema` that delivers `batches` as
    * ordered micro-batches: every event of batch i arrives before any
    * event of batch i+1 (the bounded out-of-orderness contract the
    * operators' watermarks rely on). `op` namespaces any transport
    * state (staging dir, topic) per operator. */
  def batched(s: SparkSession, op: String, schema: StructType,
      batches: Seq[(String, DataFrame)]): DataFrame
}

/** In-container transport: each batch becomes one flat parquet file in
  * a per-operator staging dir with strictly increasing fixed mtimes, so
  * a file-source stream with `maxFilesPerTrigger=1` consumes them as
  * ordered micro-batches. This is a real Structured Streaming source
  * (checkpointable, replayable), not a test double — a file-drop ingest
  * directory is a legitimate production transport. */
object FileStreamSource extends StreamSource {

  /** Stage the batches; returns the stage dir. Exposed separately so a
    * caller can inspect the staged layout. */
  private[graft] def stageBatches(op: String,
      batches: Seq[(String, DataFrame)]): String = {
    import java.nio.file.{Files, Paths}
    val stage = Paths.get(graft.operators.Engine.tmpDir(s"graft_${op}_stage"))
    // closed-stream listing + recursive delete: tolerates a stale
    // subdirectory (e.g. a _temporary left by a killed write)
    graft.operators.Engine.listDir(stage)
      .foreach(graft.operators.Engine.deleteRecursively)
    val t0 = 1700000000000L // fixed mtimes: listing order is deterministic
    // the per-batch staging writes are INDEPENDENT jobs over disjoint
    // slices into disjoint scratch dirs — run them concurrently, at
    // most 4 at a time, each branch taking the next batch as it ends
    // one (guide §2.6: actions are only sequential because the caller
    // invokes them sequentially; FIFO scheduling back-fills one
    // write's task tail with the next's tasks). Each batch's content,
    // file name and fixed mtime are untouched, so the staged layout —
    // and therefore every micro-batch boundary downstream — is
    // byte-identical to the sequential run.
    val byIndex = batches.toIndexedSeq
    def stageOne(i: Int): Unit = {
      val (target, df) = byIndex(i)
      val scratch = graft.operators.Engine.tmpDir(s"graft_${op}_scratch_$target")
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = graft.operators.Engine.listDir(Paths.get(scratch))
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = stage.resolve(s"$target.parquet")
      Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
    }
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.Branches.run(SparkSession.active) { b =>
      (0 until math.min(batches.size, 4)).foreach { lane =>
        b.fork(s"$op-stage-$lane") {
          var i = next.getAndIncrement()
          while (i < batches.size) { stageOne(i); i = next.getAndIncrement() }
        }
      }
    }
    stage.toString
  }

  override def batched(s: SparkSession, op: String, schema: StructType,
      batches: Seq[(String, DataFrame)]): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stageBatches(op, batches))
}

/** The broker transport a deployed churn pipeline runs on. NOT runnable
  * in this container — there is no Kafka broker and no
  * spark-sql-kafka-0-10 connector jar (`format("kafka")` resolves at
  * runtime, so this class compiles against stock Spark) — but the
  * reader below is the complete production recipe:
  *
  *   - producers (the tracker/CDC feed) write one JSON event per Kafka
  *     record into `topic`; per-partition order gives the bounded
  *     out-of-orderness the operators' watermarks absorb;
  *   - the subscription replaces [[FileStreamSource]]'s staging — the
  *     `batches` argument is the feed's logical content, delivered by
  *     the pipeline's upstream, not staged here;
  *   - deserialization is schema-on-read: `from_json` over the record
  *     value with the SAME StructType the file source uses, so every
  *     downstream operator plan is byte-identical across transports.
  *
  * Config: `bootstrapServers` (host:port list), `topic`; production
  * adds `maxOffsetsPerTrigger` (batch sizing — the knob playing
  * `maxFilesPerTrigger`'s role) and a checkpoint location on the sink.
  */
final class KafkaStreamSource(bootstrapServers: String, topic: String)
    extends StreamSource {
  override def batched(s: SparkSession, op: String, schema: StructType,
      batches: Seq[(String, DataFrame)]): DataFrame =
    KafkaStreamSource.parse(
      s.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load(), schema)
}

/** A RECORDED Kafka feed, replayed: batches are staged as parquet
  * files in Kafka's exact wire schema (key/value binary, topic,
  * partition, offset, timestamp, timestampType — what
  * `format("kafka").load()` yields), then consumed as a wire-schema
  * file stream and deserialized through [[KafkaStreamSource.parse]].
  * This is the broker path minus only the socket: every operator plan
  * downstream of `batched` sees the identical streaming DataFrame a
  * live subscription produces, so swapping this in for
  * [[FileStreamSource]] proves an operator end-to-end over the wire
  * format without a broker in the container. (It is also a production
  * tool in its own right: replaying a recorded topic dump through the
  * same pipeline is the standard backfill/debug move.) */
object KafkaWireReplaySource extends StreamSource {
  import org.apache.spark.sql.types._

  private[graft] val wireSchema = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  override def batched(s: SparkSession, op: String, schema: StructType,
      batches: Seq[(String, DataFrame)]): DataFrame = {
    val wired = batches.map { case (name, df) =>
      name -> df.select(
        lit(null).cast("binary").as("key"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*)).cast("binary").as("value"),
        lit(op).as("topic"),
        lit(0).as("partition"),
        monotonically_increasing_id().as("offset"),
        // fixed broker-side append time: determinism for replay specs;
        // operators use EVENT time from the payload, never this
        timestamp_seconds(lit(1700000000L)).as("timestamp"),
        lit(0).as("timestampType"))
    }
    val stage = FileStreamSource.stageBatches(s"${op}_wire", wired)
    KafkaStreamSource.parse(
      s.readStream.schema(wireSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage), schema)
  }
}

object KafkaStreamSource {
  /** Schema-on-read deserialization of Kafka wire records — the ONLY
    * transport-specific transform between the broker and the operators.
    * Factored out of [[KafkaStreamSource.batched]] so the parse is
    * testable without a broker: KafkaParitySpec feeds it batch rows in
    * Kafka's exact wire schema (key/value binary, topic, partition,
    * offset, timestamp, timestampType) and pins row-level equality with
    * what [[FileStreamSource]] delivers — transport independence proven
    * at the one point where the transports differ. `from_json` is
    * identical over batch and streaming frames, so the batch-mode spec
    * exercises the same expression the production stream runs. */
  private[graft] def parse(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(from_json(col("value").cast("string"), schema).as("v"))
      .select("v.*")
}
