package graft.reachfixture

/** Fixtures for [[graft.ReachabilitySpec]]: from [[Entry.main]], each
  * member of [[Helpers]] and [[Square]] is reached in one way only, and
  * `Helpers.unreached` in none.
  */
trait Shape {
  def area(): Double
}

object Square extends Shape {
  /** Reached only as the override of `Shape.area`, which `Entry` calls
    * through the trait. */
  override def area(): Double = 4.0
}

object Helpers {
  /** Reached only from inside a lambda body. */
  def viaLambda(x: Int): Int = x + 1

  /** Reached only from a generated-code string, the way a Catalyst
    * `doGenCode` calls a Scala object. */
  def viaCodegen(x: Int): Int = x * 2

  /** Reached by nothing. */
  def unreached(x: Int): Int = x - 1
}

object Entry {
  def main(args: Array[String]): Unit = {
    val f: Int => Int = x => Helpers.viaLambda(x)
    val code = s"${args.length} = graft.reachfixture.Helpers$$.MODULE$$.viaCodegen(${args.length});"
    val s: Shape = Square
    println(s"${f(1)} $code ${s.area()}")
  }
}
