package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.OpUtils.barrier]] is the engine's one persistence
  * barrier: the session's checkpoint dir decides whether it survives
  * executor loss, and a direct `localCheckpoint`/`checkpoint` call
  * anywhere else would silently opt out of that rule. */
class BarrierLintSpec extends AnyFunSuite {

  test("main source checkpoints only through OpUtils.barrier") {
    // sbt runs the forked suites from the project root
    val root = new File("src/main/scala")
    assert(new File(root, "graft/operators/OpUtils.scala").isFile)
    def scalaFiles(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    val offenders = for {
      f <- scalaFiles(root) if f.getName != "OpUtils.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if call.findFirstIn(line).nonEmpty
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty)
  }
}
