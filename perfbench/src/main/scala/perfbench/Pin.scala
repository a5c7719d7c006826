package perfbench

import java.nio.file.Files

/** Pins the expected outputs of every workload: runs each operation
  * twice in one process and writes `perfbench/expected/<workload>.tsv`.
  * A row count or digest that differs between the two runs is an
  * error: nothing is written and the exit code is not 0.
  * `perfbench.Pin --work <dir> --cores <n>` */
object Pin {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    Seq("headline", "model", "sweep").foreach { kind =>
      val w = Workload(kind, Ctx(a("work"), a.int("cores"), 1L))
      w.setup()
      val off = new Tracer(false)
      val ops = twice(w, off)
      w.teardown()
      ops.flatten.flatMap(_.problem).foreach(p => sys.error(s"$kind: $p"))
      val all = ops.flatten.flatMap(_.obs)
      val lines = all.map(_.key).distinct.map { k =>
        val seen = all.filter(_.key == k)
        def one(xs: Seq[String]) = if (xs.distinct.size == 1) xs.head
          else sys.error(s"pin $kind $k: differs between runs: " +
            xs.distinct.mkString(" "))
        s"$k\t${one(seen.map(_.rows.toString))}\t${one(seen.map(_.digest))}"
      }
      val f = Expect.file(a("work"), kind)
      Files.createDirectories(f.getParent)
      Files.writeString(f, ("# key\trows\tdigest (\"-\" = not computed, not compared)" +:
        lines).mkString("", "\n", "\n"))
      println(s"pin $kind: ${lines.size} outputs -> $f")
    }
  }

  /** Two runs of every operation of one pass, warm-up included. */
  def twice(w: Workload, tr: Tracer): Seq[Seq[OpStat]] = {
    val pass = w.passes().next()
    (1 to 2).map(_ => w.warmup(tr) +: pass.map(op => op(tr)))
  }
}
