package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}

import graft.streaming.AvroWire

/** Seeded source of Confluent-framed Avro v1 event records (schema id 1,
  * `AvroWire.SchemaJson`), the bytes a producer would put on the topic.
  *
  * Event `i` is a pure function of `(seed, i)`: its fields come from a
  * generator seeded by a hash of both, so any slice of the stream encodes
  * to the same bytes however it is chunked. Event time is
  * `startMs + i * stepMs`; the error probability is drawn once per seed, as
  * the reference producer draws it once per run. */
final class Wire(seed: Long, val startMs: Long, val stepMs: Long) {
  import Wire._

  require(startMs % 60000L == 0 && 60000L % stepMs == 0,
    "event minutes must start on a minute and hold a whole number of events")

  val eventsPerMinute: Int = (60000L / stepMs).toInt
  val errorProb: Double = 0.05 + 0.4 * new java.util.SplittableRandom(seed).nextDouble()

  private val schema = new Schema.Parser().parse(AvroWire.SchemaJson)
  private val typeSchema = schema.getField("event_type").schema()
  private val statusSchema = schema.getField("status").schema()
  private val writer = new GenericDatumWriter[GenericRecord](schema)
  private val bos = new ByteArrayOutputStream(256)
  private var enc: BinaryEncoder = null

  /** Encode events `[from, until)` as (key, value) records and add each to
    * `tally` under its event minute (relative to `startMs`). */
  def records(from: Long, until: Long, tally: Tally): Array[(Array[Byte], Array[Byte])] = {
    val out = new Array[(Array[Byte], Array[Byte])]((until - from).toInt)
    var i = from
    while (i < until) {
      val r = new java.util.SplittableRandom(mix(seed, i))
      val t = r.nextInt(EventTypes.length)
      val err = r.nextDouble() < errorProb
      val user = mix(seed ^ 0x5bd1e995L, i / 100 + (if (r.nextDouble() < 0.01) 1 else 0)) % 5000
      val rec = new GenericData.Record(schema)
      rec.put("event_id", uuid(mix(seed, i), mix(i, seed)))
      rec.put("user_id", uuid(mix(user, 1L), mix(user, 2L)))
      rec.put("session_id", uuid(mix(user, 3L), mix(user, 4L)))
      rec.put("event_type", new GenericData.EnumSymbol(typeSchema, EventTypes(t)))
      rec.put("event_timestamp", startMs + i * stepMs)
      rec.put("request_latency_ms", 50 + r.nextInt(1451))
      rec.put("status", new GenericData.EnumSymbol(statusSchema, if (err) "ERROR" else "SUCCESS"))
      rec.put("error_code", if (err) Int.box(400 + r.nextInt(200)) else null)
      rec.put("product_id", if (t < 2) Int.box(1 + r.nextInt(10000)) else null)
      bos.reset()
      bos.write(0)
      bos.write(ByteBuffer.allocate(4).putInt(AvroWire.SchemaId).array())
      enc = EncoderFactory.get().directBinaryEncoder(bos, enc)
      writer.write(rec, enc)
      enc.flush()
      val key = ByteBuffer.allocate(16).putLong(mix(user, 1L)).putLong(mix(user, 2L)).array()
      out((i - from).toInt) = (key, bos.toByteArray)
      tally.add((i / eventsPerMinute).toInt, t, err)
      i += 1
    }
    out
  }
}

object Wire {
  val EventTypes: Array[String] =
    Array("VIEW_PRODUCT", "ADD_TO_CART", "CHECKOUT", "PAYMENT", "SEARCH")

  /** splitmix64 finalizer over two longs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private def uuid(hi: Long, lo: Long): String =
    new java.util.UUID((hi & ~0xF000L) | 0x4000L, (lo & 0x3FFFFFFFFFFFFFFFL) | Long.MinValue).toString

  /** A minute-aligned event-time origin that differs per seed. */
  def origin(seed: Long): Long = 1704067200000L + Math.floorMod(seed, 1000L) * 3600000L

  /** Per event minute, the (SUCCESS, ERROR) count of every event type: the
    * cells a correct minute report must show. */
  final class Tally {
    private val cells = scala.collection.mutable.Map.empty[Int, Array[Long]]
    def add(minute: Int, t: Int, err: Boolean): Unit = synchronized {
      cells.getOrElseUpdate(minute, new Array[Long](EventTypes.length * 2))(t * 2 + (if (err) 1 else 0)) += 1
    }
    def total(minute: Int): Long = synchronized(cells.get(minute).map(_.sum).getOrElse(0L))
    /** `{"VIEW_PRODUCT": [success, error], ...}` for one minute. */
    def json(minute: Int): Any = synchronized {
      val c = cells.getOrElse(minute, new Array[Long](EventTypes.length * 2))
      EventTypes.indices.map(t => EventTypes(t) -> Seq(c(t * 2), c(t * 2 + 1))).toMap
    }
  }
}
