package graft

import graft.operators.Par
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("sections rethrows one failure with every other section's attached") {
    def failing(msg: String): () => Int = () => throw new IllegalStateException(msg)
    val e = intercept[IllegalStateException](
      Par.sections(failing("a"), failing("b"), () => 3))
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage)
    assert(all.sorted == Seq("a", "b"), all)
  }
}
