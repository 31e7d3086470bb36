package graft

package object tools {

  /** A bucket-cap argument: `none` is uncapped, an integer is the cap. */
  def capArg(arg: String): Option[Int] =
    if (arg == "none") None else Some(arg.toInt)

  /** A cap as a JSON value: the integer, or `null` when uncapped. */
  def capJson(cap: Option[Int]): String = cap.fold("null")(_.toString)
}
