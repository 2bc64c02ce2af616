package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`.
  *
  * [[graft.operators.OpUtils.barrier]] is the engine's one persistence
  * barrier: the session's checkpoint dir decides whether it survives
  * executor loss, and a direct `localCheckpoint`/`checkpoint` call
  * anywhere else would silently opt out of that rule.
  *
  * The engine has no session options of its own: every plan is
  * built-in Catalyst, tuned by Spark's own confs.
  *
  * A native function has one implementation, its `HashUtil` kernel,
  * which Spark's `StaticInvoke` runs compiled and interpreted alike; an
  * interpreted `nullSafeEval` beside a hand-written `doGenCode` would
  * be a second copy that must agree with the first. */
class BarrierLintSpec extends AnyFunSuite {

  // sbt runs the forked suites from the project root
  private val root = new File("src/main/scala")

  /** `path:line: text` of every main-source line matching `pattern`,
    * outside the files named in `except`. */
  private def offenders(pattern: scala.util.matching.Regex,
                        except: Set[String] = Set.empty): Seq[String] = {
    assert(new File(root, "graft/operators/OpUtils.scala").isFile)
    def scalaFiles(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    for {
      f <- scalaFiles(root) if !except(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if pattern.findFirstIn(line).nonEmpty
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
  }

  test("main source checkpoints only through OpUtils.barrier") {
    assert(offenders("""localCheckpoint\(|\.checkpoint\(""".r,
      except = Set("OpUtils.scala")).isEmpty)
  }

  test("main source defines no spark.graft.* session option") {
    assert(offenders("\"spark\\.graft\\.".r).isEmpty)
  }

  test("main source hand-writes no second execution path for an expression") {
    assert(offenders("""doGenCode\(|nullSafeEval\(""".r).isEmpty)
  }
}
