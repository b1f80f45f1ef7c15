package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.PiiScrub

/** PII detection and masking over a text column — the scrub stage
  * every published web-scale corpus pipeline runs before training
  * (C4 strips lines by blocklist; Dolma and FineWeb mask emails /
  * phone numbers / IP addresses with sentinel tokens — this is that
  * operator).
  *
  * Scale shape: pure per-row projection, zero shuffles, zero UDFs.
  * The production path is the native single-pass
  * [[graft.functions.PiiScrub]] expression ([[scrub]]) — one decode,
  * one combined-alternation regex scan, one encode, detection counts
  * collected for free. PiiSpec keeps the composed built-in forms
  * (one `regexp_count` per pattern, a chained `regexp_replace` mask)
  * as the REFERENCE semantics the fused pass must compute, and pins
  * the equivalence by fuzz. Patterns deliberately stay in the regex
  * subset whose semantics agree across engines (character classes,
  * bounded and unbounded repetition — no backreferences, no
  * lookaround), so the DuckDB oracle (RE2) finds identical matches.
  *
  * Masking replaces longest-first (emails before IPs before phones):
  * the email pattern can contain dots and digits, so it must be
  * consumed before the narrower patterns inspect the remainder.
  */
object Pii {
  val EmailPattern: String = PiiScrub.EmailPattern
  val PhonePattern: String = PiiScrub.PhonePattern
  val Ipv4Pattern: String = PiiScrub.Ipv4Pattern

  /** Fused detect+mask: STRUCT<clean_text, n_emails, n_phones, n_ips>
    * in one native pass. Keep the struct behind an alias before
    * selecting fields (the pqEncode discipline) so CollapseProject
    * cannot duplicate the scan per consumed field. */
  def scrub(text: Column): Column = call_function("pii_scrub", text)
}
