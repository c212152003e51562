package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** One side of the two-process create-if-absent race (TxnSpec): on a
  * `go <t0>` line from stdin, try to publish `dir/d-<i>` holding
  * `<label>-<i>` for i in [0, n) on the shared slot clock, then print
  * the indices this process won. Needs only a Hadoop filesystem — no
  * Spark — so it starts in well under a second.
  *
  *   java -cp <test classpath> graft.PublishRace <dir> <label> <n> */
object PublishRace {

  /** The indices this process won, racing on `dir` from `f`: name i is
    * tried at `t0` + i slots (epoch microseconds), so both processes
    * reach each name within microseconds of each other. */
  def race(f: FileSystem, dir: String, label: String, n: Int,
      t0: Long): Seq[Int] =
    (0 until n).filter { i =>
      while (micros() < t0 + i * SlotMicros) {}
      graft.operators.LogFile.publish(f, new Path(dir, "_log"),
        new Path(dir, s"d-$i"), s"$label-$i")
    }

  val SlotMicros = 2000L

  def micros(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Publish untimed into a private directory first, so both sides race
    * at compiled speed rather than one of them interpreting. */
  def warmUp(f: FileSystem, dir: String, label: String): Unit =
    race(f, s"$dir/warm-$label", label, 2000, 0L)

  def main(args: Array[String]): Unit = {
    val Array(dir, label, n) = args
    val f = FileSystem.getLocal(new Configuration())
    warmUp(f, dir, label)
    println("ready")
    val t0 = scala.io.StdIn.readLine().stripPrefix("go ").toLong
    println(race(f, dir, label, n.toInt, t0).mkString("won ", ",", ""))
  }
}
