package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

/** Change-event inputs of the two CDC workloads, in the JSON shape
  * `graft.streaming.ChangeEvents.schema` parses, plus readers for the
  * streaming checkpoint a sync task leaves behind. */
object Changes {

  final case class Event(op: String, key: Long, value: Double, k: Long, tsMs: Long, offset: Long) {
    def json(table: String): String =
      s"""{"op":"$op","key":$key,"after":{"value":$value,"k":$k},""" +
        s""""sourceDb":"graft","sourceTable":"$table","ts":"${Instant.ofEpochMilli(tsMs)}","offset":$offset}"""
  }

  val EventsPerFile = 100 // the reference's change-buffer flush size
  val BaseMs: Long = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** Snapshot row `i` of the wide table: (key, value, k), the
    * (o_orderkey, o_totalprice, o_custkey) shape of an orders table. */
  def snapshotRow(seed: Long, i: Long): (Long, Double, Long) = {
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    (i, cents(1000.0 + r.nextDouble() * 499000.0), r.nextLong(15000L))
  }

  /** The catch-up log over a keyspace of `keys` snapshot keys: mostly
    * updates, plus new-key inserts and deletes. Timestamps advance 5 ms
    * per event with ±2 s jitter, so the log holds out-of-order
    * timestamps that the last-writer-wins rule has to order. */
  def catchupLog(seed: Long, keys: Long, n: Int): Array[Event] = {
    val r = new java.util.SplittableRandom(seed)
    var next = keys
    Array.tabulate(n) { i =>
      val u = r.nextDouble()
      val ts = BaseMs + i * 5L + r.nextLong(4001L) - 2000L
      val value = cents(1000.0 + r.nextDouble() * 499000.0)
      val k = r.nextLong(15000L)
      if (u < 0.1) { next += 1; Event("insert", next - 1, value, k, ts, i) }
      else Event(if (u < 0.2) "delete" else "update", r.nextLong(next), value, k, ts, i)
    }
  }

  /** The hot-key log derived like `ChangeEvents.fromEvents`: `users`
    * keys, event types spread evenly (signup -> insert, error -> delete,
    * otherwise update), event time increasing with the offset. */
  def hotKeyLog(seed: Long, users: Int, n: Int): Array[Event] = {
    val r = new java.util.SplittableRandom(seed)
    val spanMs = 30L * 86400L * 1000L
    val ts = Array.fill(n)(r.nextLong(spanMs)).sorted
    Array.tabulate(n) { i =>
      val op = r.nextInt(5) match {
        case 0 => "insert"
        case 1 => "delete"
        case _ => "update"
      }
      Event(op, r.nextInt(users).toLong, cents(-50.0 * math.log(1.0 - r.nextDouble()) + 0.01),
        r.nextInt(100).toLong, BaseMs + ts(i), i)
    }
  }

  def fileName(i: Int): String = f"part-$i%06d.json"

  /** Write events `[from, until)` as one file, atomically: a hidden temp
    * name (the file source skips dot files), then a rename. */
  def publish(dir: Path, i: Int, events: Array[Event], from: Int, until: Int, table: String): Unit = {
    val sb = new StringBuilder
    var j = from
    while (j < until) { sb ++= events(j).json(table); sb += '\n'; j += 1 }
    val tmp = dir.resolve("." + fileName(i) + ".tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(fileName(i)), StandardCopyOption.ATOMIC_MOVE)
  }

  def writeAll(dir: Path, events: Array[Event], table: String): Int = {
    Files.createDirectories(dir)
    val files = (events.length + EventsPerFile - 1) / EventsPerFile
    (0 until files).foreach { i =>
      publish(dir, i, events, i * EventsPerFile, math.min(events.length, (i + 1) * EventsPerFile), table)
    }
    files
  }

  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r

  /** file name -> micro-batch id, from the file source's metadata log
    * (`<checkpoint>/sources/0`, compacted files included). */
  def batchOfFile(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val listing = Files.list(dir)
    try listing.iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap { line =>
        for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
    finally listing.close()
  }

  /** batch id -> epoch ms at which its commit-log entry was written: the
    * end of the micro-batch, after its merge is durable. */
  def commitTimes(checkpoint: String): Map[Long, Long] = logTimes(checkpoint, "commits")

  /** batch id -> epoch ms at which its offsets were logged: the start of
    * the micro-batch, once the files it takes are fixed. */
  def offsetTimes(checkpoint: String): Map[Long, Long] = logTimes(checkpoint, "offsets")

  private def logTimes(checkpoint: String, log: String): Map[Long, Long] = {
    val dir = Paths.get(checkpoint, log)
    if (!Files.isDirectory(dir)) return Map.empty
    val listing = Files.list(dir)
    try listing.iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("\\d+"))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally listing.close()
  }

  /** Parked micro-batches in a pipeline's dead-letter directory. */
  def dlqBatches(dlq: String): Int = {
    val dir = Paths.get(dlq)
    if (!Files.isDirectory(dir)) return 0
    val listing = Files.list(dir)
    try listing.iterator.asScala.count(_.getFileName.toString.matches("(batch|parked)_\\d+"))
    finally listing.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}
