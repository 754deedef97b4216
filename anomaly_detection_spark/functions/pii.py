"""PII detection / redaction and URL-blocklist filtering for
training-data pipelines (the C4 / Gopher / Dolma curation recipe:
scrub emails, phone numbers, IP addresses; drop documents that cite
blocklisted domains).

Everything here is a codegen'd regex expression evaluated inside the
scan — zero Python, zero shuffle for the per-document report — because
at 100 TB this pass runs over every byte of the corpus. The only join
in the family is the URL-blocklist membership check, which broadcasts
the (small) blocklist; a literal-expression variant exists for tiny
blocklists so the scale path can be asserted against it per document.

Cross-engine exactness: every pattern is written in the common subset
of Java regex (Spark) and RE2 (DuckDB) — no backreferences, no
lookaround, ASCII character classes spelled out (``[0-9]``, the
explicit Java-``\\s`` class) so both engines tokenize identically and
the driver oracle can replay counts, redacted text, and flags
bit-for-bit. DuckDB's ``regexp_replace`` needs the ``'g'`` flag to
match Spark's replace-all semantics — the ``*_sql`` twins handle that.

Counts are computed on the ORIGINAL text, so a value inside a larger
structure counts under every pattern it matches (an IPv4 inside a URL
is both ``n_ipv4`` and ``n_urls``); redaction replaces URLs first so
nested fragments disappear with their container. Both choices are
deterministic and engine-identical.

Reference parity note: the reference engine has no text surface; this
module extends the training-data-pipeline block (SURVEY.md §2
"beyond the reference") alongside functions/text.py, decontam.py,
repetition.py and sampling.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.text import JAVA_WS_CHARS

_NS = JAVA_WS_CHARS  # the Java \s set, spelled out for RE2 parity

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
IPV4_RE = rf"\b(?:{_OCTET}\.){{3}}{_OCTET}\b"
URL_RE = rf"https?://[A-Za-z0-9.-]+(?:/[^{_NS}]*)?"
URL_HOST_RE = r"https?://([A-Za-z0-9.-]+)"

# redaction order matters: containers before their fragments
REDACTIONS = [(URL_RE, "<URL>"), (EMAIL_RE, "<EMAIL>"),
              (IPV4_RE, "<IPV4>"), (PHONE_RE, "<PHONE>")]

_COUNT_RES = {"n_emails": EMAIL_RE, "n_phones": PHONE_RE,
              "n_ipv4": IPV4_RE, "n_urls": URL_RE}


def _nn(text: Column) -> Column:
    return F.coalesce(text, F.lit(""))


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern match counts (n_emails, n_phones, n_ipv4, n_urls) as
    codegen expressions; NULL text counts as empty."""
    return {name: F.size(F.regexp_extract_all(_nn(text), F.lit(pat),
                                              F.lit(0))).alias(name)
            for name, pat in _COUNT_RES.items()}


def pii_counts_sql(col: str) -> dict[str, str]:
    """DuckDB twins of :func:`pii_counts`."""
    return {name: (f"len(regexp_extract_all(coalesce({col}, ''), "
                   f"'{pat}', 0))")
            for name, pat in _COUNT_RES.items()}


def redact_pii(text: Column) -> Column:
    """Replace every URL/email/IPv4/phone occurrence with its type
    token. One chained codegen expression; NULL text redacts to ''."""
    out = _nn(text)
    for pat, token in REDACTIONS:
        out = F.regexp_replace(out, pat, token)
    return out


def redact_pii_sql(col: str) -> str:
    """DuckDB twin of :func:`redact_pii` (the 'g' flag gives Spark's
    replace-all semantics)."""
    out = f"coalesce({col}, '')"
    for pat, token in REDACTIONS:
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def url_hosts(text: Column) -> Column:
    """Hosts of every URL in the text, as array<string> (may repeat)."""
    return F.regexp_extract_all(_nn(text), F.lit(URL_HOST_RE), F.lit(1))


def url_hosts_sql(col: str) -> str:
    return f"regexp_extract_all(coalesce({col}, ''), '{URL_HOST_RE}', 1)"


def blocked_flag_expr(text: Column, domains: list[str]) -> Column:
    """Literal-expression blocklist check for SMALL lists: true iff any
    URL host is in ``domains``. The list is baked into the plan — no
    join, no broadcast. Use :func:`blocked_by_join` when the blocklist
    is a table."""
    return F.arrays_overlap(
        url_hosts(text), F.array(*[F.lit(d) for d in sorted(domains)]))


def blocked_flag_sql(col: str, domains: list[str]) -> str:
    vals = ", ".join("'" + d.replace("'", "''") + "'"
                     for d in sorted(domains))
    return f"list_has_any({url_hosts_sql(col)}, [{vals}])"


def blocked_by_join(df: DataFrame, blocklist: DataFrame, *,
                    id_col: str = "doc_id", text_col: str = "text",
                    domain_col: str = "domain") -> DataFrame:
    """Scale-path blocklist check: returns (id_col, blocked) for every
    input row.

    Plan shape: distinct (doc, host) pairs explode inside the scan and
    meet the BROADCAST blocklist; only matching pairs survive into the
    flagged-id set (vanishing fraction), which joins back to the id
    spine — the corpus text itself never shuffles; the join-back
    carries ids+bool only (AQE broadcasts it when the flagged set is
    small; at scale it is a narrow shuffle, never the text). A
    million-domain blocklist still broadcasts in tens of MB (hashed
    domains would halve that; not needed here).
    """
    hosts = (df.select(F.col(id_col),
                       F.explode(F.array_distinct(
                           url_hosts(F.col(text_col)))).alias("_host")))
    bl = blocklist.select(F.col(domain_col).alias("_host")).distinct()
    flagged = (hosts.join(F.broadcast(bl), "_host", "left_semi")
               .select(id_col).distinct()
               .withColumn("blocked", F.lit(True)))
    return (df.select(id_col)
            .join(flagged, id_col, "left")
            .select(id_col,
                    F.coalesce("blocked", F.lit(False)).alias("blocked")))
