package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.expressions.TypedRowHash
import graft.types.UniversalType

/** The reference's full-row hash (`etl.go:61-68`):
  * lowercase each cell's universal string encoding, sort the cell VALUES
  * (not the columns), concatenate, MD5.
  *
  * Semantics preserved exactly (golden digests in `etl_test.go:9-53`):
  *   - insensitive to column order AND to which column holds which value
  *     (a permuted multiset of values collides — `etl_test.go:26-35`);
  *   - case-insensitive;
  *   - NULL hashes as the empty string (`mysql/mysql.go:109-112`).
  *
  * Implementation is one codegen'd expression, [[TypedRowHash]], over the
  * typed columns: integral, float/double, date, timestamp and string cells
  * are encoded inside it, straight into one buffer; any other type
  * (decimal, timestamp_ntz, boolean, binary, complex) reaches it as its
  * [[UniversalType.universalCell]] string. The hash stays inside
  * whole-stage codegen as a narrow map over the scan, with no shuffle.
  *
  * Two key forms, chosen by the caller: `digestOf…` gives the 16-byte
  * binary digest, the compact key the engine's own joins carry; `of…`
  * gives its 32-char lowercase hex (the wire format of `contract.proto`,
  * and what the oracle-checked queries print), Spark's `lower(hex(…))` of
  * the digest.
  */
object RowHash {

  /** Hex row hash of the named columns of `df`. */
  def ofColumns(df: DataFrame, names: Seq[String]): Column =
    lower(hex(digestOfColumns(df, names)))

  /** 16-byte binary row hash of the named columns of `df`. */
  def digestOfColumns(df: DataFrame, names: Seq[String]): Column = {
    val cells = names.map { n =>
      val f = df.schema.fields.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"row hash: no column `$n` among ${df.columns.mkString("[", ", ", "]")}"))
      // quoted, so a name holding a dot is one column, not a field path
      val c = col("`" + n.replace("`", "``") + "`")
      if (TypedRowHash.put(f.dataType).isDefined) c else UniversalType.universalCell(c, f.dataType)
    }
    ColumnBridge.column(TypedRowHash(cells.map(ColumnBridge.expression)))
  }

  /** Hex hash of every column of `df` (the reference hashes whole rows). */
  def ofAllColumns(df: DataFrame): Column = ofColumns(df, df.columns.toIndexedSeq)

  /** 16-byte binary hash of every column of `df`. */
  def digestOfAllColumns(df: DataFrame): Column =
    digestOfColumns(df, df.columns.toIndexedSeq)

  /** Append the hex hash as a column. */
  def withRowHash(df: DataFrame, hashCol: String = "row_hash"): DataFrame =
    df.withColumn(hashCol, ofAllColumns(df))
}
