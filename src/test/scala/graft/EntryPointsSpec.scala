package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The library ships exactly four runnable entry points: the bench, the
  * scale bench, the correctness dump and the plan dump. A one-off probe
  * or harness belongs in a scratch checkout or under perfbench/, not in
  * src/main. */
class EntryPointsSpec extends AnyFunSuite {

  test("src/main defines main() only in Bench, ScaleBench, Verify and Explain") {
    val stream = Files.walk(Paths.get("src/main/scala"))
    val withMain =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("def main("))
        .map((p: Path) => p.getFileName.toString.stripSuffix(".scala"))
        .toSet
      finally stream.close()
    assert(withMain == Set("Bench", "ScaleBench", "Verify", "Explain"))
  }
}
