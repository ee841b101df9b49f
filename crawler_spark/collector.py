"""Field extraction — the DataCollector as a declarative projection.

Reference: DataCollector pulls URLs, fetches each (silent drop on error),
and evaluates per-field rules over the URL string or the page body
(/root/reference/collector.go:63-101). Here:

* fetch = inner equi-join frontier ⋈ corpus on canonical url (misses =
  fetch failures, dropped for free — collector.go:88-90 semantics);
* each field = one column expression (rule.first_expr over url or html);
* all XPath fields share ONE parse per document (xpath_struct_expr);
* ``GetFromNextPage`` (util.go:54-61) = derive the follow-up url column →
  LEFT join the corpus again → apply the follow-up rule to the joined html
  ("" when the follow-up page is missing, matching GetFromNextPage's
  error → "" path). Fields that fetch the same follow-up page share one
  url column and one join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from crawler_spark.frontier.canon import canon_expr
from crawler_spark.rules.spark import Rule, XPathRule, as_text, xpath_struct_expr


@dataclass
class FollowUp:
    """Nested crawl inside a transform (example/jd/main.go:110-143):
    the base rule's result is formatted into a URL, that page is fetched,
    and ``rule`` extracts the field from it."""

    url_format: str  # str.format template, e.g. "https://z.example/f?id={}"
    rule: Rule

    def url_expr(self, base_value: Column) -> Column:
        pre, _, post = self.url_format.partition("{}")
        return F.concat(F.lit(pre), base_value, F.lit(post))


@dataclass
class Field:
    """FieldItem (collector.go:16-21): name + input choice + rule."""

    name: str
    rule: Rule
    from_url: bool = False  # True → rule input is the URL string, not html
    follow_up: FollowUp | None = None


def extract_fields(
    fetched: DataFrame,
    fields: list[Field],
    corpus: DataFrame | None = None,
    url_col: str = "url_canon",
    html_col: str = "html",
) -> DataFrame:
    """Project rule fields over fetched pages.

    ``fetched`` must carry (url_col, html_col). ``corpus`` (url_canon, html)
    is required when any field has a follow_up. Output: url_col + one string
    column per field, in declaration order.
    """
    # follow-up fields with the same (from_url, rule, url_format) fetch the
    # same page: one base value, one canonicalization and one join per
    # distinct target, shared by every field of the group
    fu_targets: list[tuple] = []
    fu_reps: list[Field] = []  # one representative field per distinct target
    fu_group: dict[str, int] = {}
    for f in fields:
        if f.follow_up is None:
            continue
        if corpus is None:
            raise ValueError(f"field {f.name!r} has follow_up but no corpus given")
        target = (f.from_url, f.rule, f.follow_up.url_format)
        if target not in fu_targets:
            fu_targets.append(target)
            fu_reps.append(f)
        fu_group[f.name] = fu_targets.index(target)

    # Stage 1: base rule values. Group plain XPath fields into one parse.
    xpath_group: dict[str, XPathRule] = {}
    exprs: list[Column] = []
    for f in fields:
        if f.follow_up is not None:
            continue
        input_col = F.col(url_col) if f.from_url else as_text(F.col(html_col))
        if isinstance(f.rule, XPathRule) and not f.from_url:
            xpath_group[f.name] = f.rule
        else:
            exprs.append(f.rule.first_expr(input_col).alias(f"_base_{f.name}"))
    for g, r in enumerate(fu_reps):
        input_col = F.col(url_col) if r.from_url else as_text(F.col(html_col))
        exprs.append(r.rule.first_expr(input_col).alias(f"_fu_base_{g}"))
    cols = [F.col(url_col), *exprs]
    if xpath_group:
        cols.append(xpath_struct_expr(F.col(html_col), xpath_group).alias("_xp"))
    staged = fetched.select(*cols)

    # Stage 2: follow-up fetches as left joins (one join per distinct target)
    for g, r in enumerate(fu_reps):
        fu_url = canon_expr(r.follow_up.url_expr(F.col(f"_fu_base_{g}")))
        staged = staged.withColumn(f"_fu_url_{g}", fu_url)
        fu_pages = corpus.select(
            F.col(url_col).alias(f"_fu_url_{g}"),
            F.col(html_col).alias(f"_fu_html_{g}"),
        )
        staged = staged.join(fu_pages, f"_fu_url_{g}", "left")

    # Stage 3: final projection in declaration order
    out_cols: list[Column] = [F.col(url_col)]
    for f in fields:
        if f.follow_up is not None:
            html = F.col(f"_fu_html_{fu_group[f.name]}")
            # fetch failure → "" WITHOUT applying the rule (util.go:56-59)
            val = F.when(
                html.isNotNull(), f.follow_up.rule.first_expr(as_text(html))
            ).otherwise(F.lit(""))
            out_cols.append(val.alias(f.name))
        elif f.name in xpath_group:
            out_cols.append(F.col(f"_xp.{f.name}").alias(f.name))
        else:
            out_cols.append(F.col(f"_base_{f.name}").alias(f.name))
    return staged.select(*out_cols)


def fetch_join(frontier: DataFrame, corpus: DataFrame, url_col: str = "url_canon") -> DataFrame:
    """Fetch-as-join: inner join drops misses silently (collector.go:88-90)."""
    return frontier.join(corpus, url_col, "inner")
