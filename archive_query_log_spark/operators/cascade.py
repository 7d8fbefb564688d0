"""Data-driven URL parser cascades (SURVEY.md §2.9).

Reference semantics: an ORDERED rule table; per row the first rule that is
(a) applicable — provider matches and URL pattern matches — and (b) whose
parse returns non-null, wins; no-match still yields a progress update
(/root/reference/archive_query_log/parsers/url_query.py:49-59 applicability,
:107-174 cascade; same pattern in url_page.py / url_offset.py).

Spark-first design: the rule table is DATA (a small DataFrame, see
``operators.rule_tables``). ``apply_cascade_array`` broadcasts each
provider's rules as an array and evaluates the first-match cascade as ONE
higher-order-function projection per row — the 972-rule url→query cascade
costs rules-per-provider evaluations per row, with no per-row Python loop
and no shuffle of the data side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from archive_query_log_spark.functions import urls as U


def _clean_dynamic(
    raw: Column, remove_pattern: Column, space_pattern: Column, as_int: bool
) -> Column:
    """Dynamic clean_text/clean_int: pattern columns instead of literals
    (guarded — regexp_replace with a NULL pattern column returns null)."""
    cleaned = F.when(
        remove_pattern.isNotNull(),
        F.regexp_replace(raw, remove_pattern, F.lit("")),
    ).otherwise(raw)
    if as_int:
        # clean_int semantics exactly (parsers/utils/__init__.py:21-33 and
        # functions.text.clean_int): remove_pattern → trim → try_cast. No
        # space_pattern substitution and no whitespace collapse — clean_int
        # takes no space_pattern, so an int rule carrying one ignores it.
        return F.trim(cleaned).try_cast("long")
    cleaned = F.when(
        space_pattern.isNotNull(),
        F.regexp_replace(cleaned, space_pattern, F.lit(" ")),
    ).otherwise(cleaned)
    # (?U)\s+ then trim: unicode-exact twin of clean_text (see text.py)
    return F.nullif(F.trim(F.regexp_replace(cleaned, r"(?U)\s+", " ")), F.lit(""))


_RULE_FIELDS = (
    "rule_order", "rule_type", "argument", "url_pattern",
    "remove_pattern", "space_pattern",
)

# the rule-struct DDL, derived from _RULE_FIELDS so the two never drift
_RULE_ARRAY_TYPE = (
    "array<struct<"
    + ",".join(
        f"{f}:{'int' if f == 'rule_order' else 'string'}" for f in _RULE_FIELDS
    )
    + ">>"
)


def apply_cascade_array(
    df,
    rules_df,
    url: Column,
    provider: Column,
    out_col: str = "query",
    as_int: bool = False,
    out_rule_col: str | None = None,
):
    """The ZERO-SHUFFLE scale plan: broadcast a per-provider ARRAY of rule
    structs (universal rules merged into every provider's array, global
    rule_order preserved by the sort), left-broadcast-join it onto the rows,
    then evaluate the whole first-match cascade as ONE projection with
    higher-order functions — transform(rules, r → cleaned extract) then
    first non-null. No groupBy, no join-back: the plan is scan → broadcast
    join → project, so it composes into any pipeline without adding an
    exchange. Per-row cost is rules-per-provider evaluations. Tested
    against the reference parser's outputs on the real rule tables
    (tests/test_reference_rules.py)."""
    spec = rules_df.where(F.col("provider_id").isNotNull())
    univ_rows = (
        rules_df.where(F.col("provider_id").isNull())
        .select(*_RULE_FIELDS)
        .collect()
    )

    def _lit_rule(r):
        return F.struct(
            *[
                (
                    F.lit(r[f]).alias(f)
                    if r[f] is not None
                    else F.lit(None).cast("int" if f == "rule_order" else "string").alias(f)
                )
                for f in _RULE_FIELDS
            ]
        )

    univ_arr = (
        F.array(*[_lit_rule(r) for r in univ_rows])
        if univ_rows
        else F.array().cast(_RULE_ARRAY_TYPE)
    )
    # sort each provider's rules ONCE in the pack aggregation (array_sort on
    # structs orders by the first field, rule_order) — the per-row plan used
    # to re-sort the concatenated array for every input row
    packed = spec.groupBy(F.col("provider_id").alias("_rp")).agg(
        F.array_sort(F.collect_list(F.struct(*_RULE_FIELDS))).alias("_prules")
    )
    # Per-row URL components hoisted OUT of the per-rule lambda: the old
    # plan re-ran lenient_url + try_parse_url(QUERY/REF/PATH) inside every
    # rule's branch (Catalyst does no CSE across higher-order-function
    # lambda invocations), so a row visited by k rules parsed its URL up to
    # k times. One projection per row now carries the sanitized URL, query
    # string, fragment and path segments; the rules only run the per-rule
    # match + qsl lookup over those.
    lenient = U.lenient_url(F.col("_url"))
    joined = (
        df.withColumn("_url", url)
        .withColumn("_prov", provider)
        .join(
            F.broadcast(packed), on=F.col("_prov") == F.col("_rp"), how="left"
        )
        .withColumn("_lu", lenient)
        .withColumn("_q", F.try_parse_url(F.col("_lu"), F.lit("QUERY")))
        .withColumn("_ref", F.try_parse_url(F.col("_lu"), F.lit("REF")))
        .withColumn(
            "_psegs",
            F.split(
                F.coalesce(
                    F.try_parse_url(F.col("_lu"), F.lit("PATH")), F.lit("")
                ),
                "/",
            ),
        )
    )
    # merge universal rules in, restore GLOBAL cascade order; with no
    # universal rules (the real url_query/url_page/url_offset tables) the
    # pre-sorted per-provider array is used as-is — no per-row sort/concat
    empty_arr = F.array().cast(_RULE_ARRAY_TYPE)
    if univ_rows:
        rules_arr = F.array_sort(
            F.concat(F.coalesce(F.col("_prules"), empty_arr), univ_arr)
        )
    else:
        rules_arr = F.coalesce(F.col("_prules"), empty_arr)

    # First-match via a SHORT-CIRCUITING fold (guide §1.2: fix the per-task
    # work once the job shape is right): the old filter(transform(rules))
    # plan evaluated EVERY rule for every row — pattern match, dynamic-regex
    # compile, qsl parse — and only then took element 0. aggregate() walks
    # the same rule order, but once the accumulator holds a hit the
    # when() guard skips the whole evaluation branch, so a row costs
    # (rules until first hit) instead of (all rules). Identical first-
    # non-null-by-rule_order semantics.
    vtype = "long" if as_int else "string"
    zero = F.struct(
        F.lit(None).cast(vtype).alias("v"), F.lit(None).cast("int").alias("o")
    )

    def _step(acc, r):
        applicable = r["url_pattern"].isNull() | F.regexp_like(
            F.col("_url"), r["url_pattern"]
        )
        qp = U.parse_qsl_first(F.col("_q"), r["argument"])
        fp = U.parse_qsl_first(F.col("_ref"), r["argument"])
        seg = U.percent_decode(
            F.try_element_at(F.col("_psegs"), r["argument"].cast("int") + 1)
        )
        raw = (
            F.when(r["rule_type"] == "query_param", qp)
            .when(r["rule_type"] == "fragment_param", fp)
            .when(r["rule_type"] == "path_segment", seg)
        )
        cleaned = _clean_dynamic(
            raw, r["remove_pattern"], r["space_pattern"], as_int
        )
        val = F.when(applicable, cleaned).cast(vtype)
        return F.when(acc["v"].isNotNull(), acc).otherwise(
            F.struct(val.alias("v"), r["rule_order"].alias("o"))
        )

    # bind the fold result as a column so the v/o projections reference ONE
    # evaluation (CollapseProject keeps non-cheap aliased exprs unduplicated)
    out = joined.withColumn("_cacc", F.aggregate(rules_arr, zero, _step))
    first = F.col("_cacc")
    out = out.withColumn(out_col, first["v"])
    if out_rule_col is not None:
        # o is only meaningful when a rule actually hit (the fold leaves the
        # last TRIED rule's order behind on a miss)
        out = out.withColumn(
            out_rule_col, F.when(first["v"].isNotNull(), first["o"])
        )
    return out.drop(
        "_url", "_prov", "_rp", "_prules", "_lu", "_q", "_ref", "_psegs",
        "_cacc",
    )
