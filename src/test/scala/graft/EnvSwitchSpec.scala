package graft

import org.scalatest.funsuite.AnyFunSuite

/** Engine behaviour is set by [[EncodeOptions]], never by the process
  * environment: a JVM-wide env-var switch is invisible to the options,
  * the manifest and every test that does not set it. Only the bench
  * harness and the verification main read the environment (the box shape
  * and data paths they are launched with).
  */
class EnvSwitchSpec extends AnyFunSuite {
  private val allowed = Set("Bench.scala", "BenchCluster.scala", "Verify.scala")

  test("no main source outside the bench and verify mains reads the environment") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"main sources not found from ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    assert(sources.nonEmpty)
    val offenders = sources.filterNot(f => allowed(f.getName)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains("sys.env") || l.contains("System.getenv") =>
          s"${f.getPath}:${i + 1}: ${l.trim}"
      }.toList
      finally src.close()
    }
    assert(offenders.isEmpty, offenders.mkString("environment read outside the allowed mains:\n", "\n", ""))
  }
}
