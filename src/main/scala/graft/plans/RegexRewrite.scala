package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: rewrite metacharacter-free `RLIKE` patterns into
  * plain string predicates —
  *
  *   - `x RLIKE '^lit'` → `startswith(x, 'lit')`
  *   - `x RLIKE 'lit'`  → `contains(x, 'lit')`
  *
  * Why it matters at scale: text-curation plans are full of prefix
  * probes written as regexes (`source RLIKE '^wiki'`, blocklists,
  * URL-scheme checks). A regex match walks the automaton per row
  * inside codegen; the string forms are single `UTF8String` memcmp
  * calls AND — unlike RLIKE — are eligible for parquet data-source
  * pushdown as `StringStartsWith`/`StringContains`, so the rewrite can
  * skip row groups entirely instead of merely matching faster.
  *
  * `$`-anchored patterns are deliberately NOT rewritten: Java's `$`
  * in default mode matches before a FINAL line terminator
  * (`"abc$"` finds a match in `"abc\n"`), so `endswith`/`=` would
  * silently drop rows ending in `\n`/`\r\n` — common in crawled text.
  * `^` has no such subtlety outside MULTILINE mode, which Spark's
  * RLIKE does not enable.
  *
  * Scope is conservative: only patterns whose body contains NO regex
  * metacharacter rewrite (any of `\.[]{}()*+?^$|` in the body
  * disqualifies — no attempt to interpret escapes), so the rewrite is
  * exactly the identity on match semantics, including NULL handling
  * (both sides are null-intolerant binary string predicates) and the
  * empty pattern (`contains(x, '')` ≡ `x RLIKE ''` — true for every
  * non-null row).
  *
  * Registered on both the config path and the runtime path by
  * [[graft.GraftExtensions]].
  */
object RegexPrefixRewrite extends Rule[LogicalPlan] {

  private val meta = "\\.[]{}()*+?^$|".toSet

  private def literalOnly(s: String): Boolean = !s.exists(meta.contains)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case r @ RLike(left, Literal(p: UTF8String, StringType)) =>
        val s = p.toString
        if (s.endsWith("$")) r // '$' matches before a final \n — unsafe
        else {
          val anchoredStart = s.startsWith("^")
          val body = s.stripPrefix("^")
          if (!literalOnly(body)) r
          else if (anchoredStart) StartsWith(left, Literal(body))
          else Contains(left, Literal(body))
        }
    }
}
