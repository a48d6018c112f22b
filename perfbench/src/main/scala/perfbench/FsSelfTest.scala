package perfbench

import graft.ops.SnapshotTable
import org.apache.hadoop.fs.Path

/** Self-test of the filesystem counting, run with
  * `python3 perfbench/run.py --workload fs_selftest --seed 0 --seconds 0 --trace 1`.
  *
  * First it pins the counter itself: one direct call of each kind must
  * count exactly once, with the calls the checksum layer makes inside it
  * not counted again. Then it pins the counts of one known program call,
  * `SnapshotTable.append` of a one-partition, 100-row frame to an empty
  * root. A program change that moves those counts fails this test (and
  * only this test) until the pins below are updated with the change. */
object FsSelfTest {
  /** Counts of one `SnapshotTable.append` to an empty root. */
  val AppendPins: Map[FsOp.Value, Long] = Map(
    FsOp.Open -> 1L, FsOp.Create -> 3L, FsOp.Rename -> 3L, FsOp.List -> 3L,
    FsOp.Status -> 12L, FsOp.Delete -> 2L, FsOp.Mkdirs -> 2L)

  def run(ctx: Ctx): Unit = {
    val s = ctx.spark
    if (!ctx.trace) { ctx.errors += "fs_selftest needs --trace 1"; return }
    val base = new Path(ctx.dir("selftest"))
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    ctx.check(fs.isInstanceOf[CountingFileSystem],
      s"file: resolves to ${fs.getClass.getName}, not the counting filesystem")

    val direct = ctx.span("selftest.direct") {
      val d = new Path(base, "d")
      val f = new Path(d, "f")
      fs.mkdirs(d)
      val out = fs.create(f)
      out.write(new Array[Byte](100))
      out.close()
      fs.exists(f)
      fs.getFileStatus(f)
      val in = fs.open(f)
      in.read(new Array[Byte](100))
      in.close()
      fs.listStatus(d)
      fs.rename(f, new Path(d, "g"))
      fs.delete(new Path(d, "g"), false)
    }
    val d = Recorder.named("selftest.direct").head
    val want = Map(FsOp.Open -> 1L, FsOp.Create -> 1L, FsOp.Rename -> 1L, FsOp.List -> 1L,
      FsOp.Status -> 2L, FsOp.Delete -> 1L, FsOp.Mkdirs -> 1L)
    for ((op, n) <- want)
      ctx.check(d.fsCount(op) == n, s"direct $op counted ${d.fsCount(op)}, want $n")
    ctx.check(d.fsBytes == 100L, s"direct write counted ${d.fsBytes} bytes, want 100")

    val root = new Path(base, "table").toString
    ctx.span("selftest.append")(SnapshotTable.append(s, root, s.range(0, 100, 1, 1).toDF()))
    Recorder.drain(s)
    val a = Recorder.named("selftest.append").head
    for (op <- FsOp.values.toSeq) {
      ctx.put(s"append.$op", a.fsCount(op).toDouble, "count")
      ctx.check(a.fsCount(op) == AppendPins(op),
        s"append $op counted ${a.fsCount(op)}, pinned ${AppendPins(op)}")
    }
    ctx.put("append.bytes", a.fsBytes.toDouble, "B")
    ctx.attempted = 2
    direct
  }
}
