package graft.api

/** Exception hierarchy mirroring the reference's error contract
  * (reference: pandasdb/exceptions.py:1-34, SURVEY.md §4.3.7).
  */
abstract class GraftException(msg: String) extends RuntimeException(msg)

/** Unsupported file type passed to Database.open (reference: exceptions.py FileTypeError). */
class FileTypeError(msg: String) extends GraftException(msg)

/** Unknown table name (reference: connection.py:255-256). */
class InvalidTableError(msg: String) extends GraftException(msg)

/** Unknown column name (reference: table.py:370-371). */
class InvalidColumnError(msg: String) extends GraftException(msg)

/** Predicates from two different tables combined (reference: expression.py:30-35). */
class ExpressionError(msg: String) extends GraftException(msg)

/** Positional index out of bounds (reference: table.py:38-48 raises IndexError). */
class IndexOutOfBoundsError(msg: String) extends GraftException(msg)

/** Operation applied to a column of the wrong type, e.g. sum() on text
  * (reference: column.py:193-194 raises TypeError).
  */
class ColumnTypeError(msg: String) extends GraftException(msg)

/** [[Database.populateCache]] could not warm some columns: the message
  * names each `table.column` (or the table, when its aggregate pass
  * failed) with its cause, and every cause is attached as suppressed.
  * The other tables and columns were still warmed.
  */
class CacheWarmupError(val failures: Seq[(String, Option[String], Throwable)])
    extends GraftException(
      s"populateCache failed for ${failures.length} column(s): " +
        failures.map { case (t, c, e) =>
          s"${c.fold(t)(t + "." + _)} (${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString + ")"
        }.mkString("; ")) {
  failures.foreach { case (_, _, e) => addSuppressed(e) }
}
