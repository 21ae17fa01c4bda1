package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One generated chunk: its phase (`warm`, `stream` or `etl`), when it
  * is due (ms after its phase starts) and how many events it carries.
  */
final case class Chunk(file: String, phase: String, atMs: Long, events: Int)

/** A rate step of the open loop. */
final case class Step(rate: Int, startMs: Long, endMs: Long)

/** What `gen.py` generated: the chunks, the rate steps, the erased test
  * card, and the seconds of the predict and ETL phases.
  */
final case class Manifest(chunks: Seq[Chunk], steps: Seq[Step], testCard: Long,
    predictS: Double, etlS: Double) {
  def phase(p: String): Seq[Chunk] = chunks.filter(_.phase == p)
}

object Manifest {
  def load(inputDir: String): Manifest = {
    val root = new ObjectMapper().readTree(Paths.get(inputDir, "manifest.json").toFile)
    val chunks = root.get("chunks").elements().asScala.map(c =>
      Chunk(c.get("file").asText, c.get("phase").asText, c.get("at_ms").asLong,
        c.get("events").asInt)).toSeq
    val steps = root.get("steps").elements().asScala.map(s =>
      Step(s.get("rate").asInt, s.get("start_ms").asLong, s.get("end_ms").asLong)).toSeq
    Manifest(chunks, steps, root.get("test_card").asText.toLong,
      root.get("predict_s").asDouble, root.get("etl_s").asDouble)
  }
}

/** A chunk as it landed: its due time (the emit stamp latencies start
  * from) and the time the file became visible, both epoch ms.
  */
final case class Landed(chunk: Chunk, dueMs: Double, landedMs: Double) {
  def lagMs: Double = landedMs - dueMs
}

/** The open-loop generator thread: lands each of `chunks` in `landingDir`
  * at its due time, whatever the engine is doing. A file is written under
  * a hidden name and renamed, so readers never see a partial file.
  * [[landNow]] lands a chunk at once (warm-up files, closed-loop batches).
  */
final class Lander(inputDir: String, landingDir: String, chunks: Seq[Chunk])
    extends Thread("perfbench-lander") {
  setDaemon(true)
  Files.createDirectories(Paths.get(landingDir))
  private val landed = new ConcurrentLinkedQueue[Landed]()
  @volatile var startMs: Double = Double.NaN

  /** Lands one chunk now (warm-up chunks, outside the schedule). */
  def landNow(c: Chunk): Landed = {
    val now = Tracer.nowMs()
    land(c, now)
  }

  private def land(c: Chunk, dueMs: Double): Landed = {
    val tmp = Paths.get(landingDir, s".${c.file}.tmp")
    Files.copy(Paths.get(inputDir, c.file), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(landingDir, c.file), StandardCopyOption.ATOMIC_MOVE)
    val l = Landed(c, dueMs, Tracer.nowMs())
    landed.add(l)
    l
  }

  override def run(): Unit = {
    startMs = Tracer.nowMs()
    chunks.sortBy(_.atMs).foreach { c =>
      val due = startMs + c.atMs
      val wait = due - Tracer.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      land(c, due)
    }
  }

  def all: Seq[Landed] = landed.asScala.toSeq

  /** Names of every landed file, for the output checks. */
  def writeLandedList(path: String): Unit =
    Files.write(Paths.get(path), all.map(_.chunk.file).mkString("", "\n", "\n").getBytes("UTF-8"))
}
