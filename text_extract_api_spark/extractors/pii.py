"""Deterministic PII anonymization — a chain of JVM-side regexp_replace.

The reference performs PII removal by prompting an LLM with "Remove Any
personal information ... replacing it with 'ANONYMIZED'"
(``examples/example-mri-remove-pii.txt:1-2``, executed at
``extract/tasks.py:71-84``). The engine re-expresses the contract as a pure,
vectorized regex pass (north rule: deterministic PII regex/NER pass) — same
replacement token, fully reproducible, whole-stage-codegen fast.

Pattern order matters: SSN before generic phone (so a phone rule never eats
half an SSN), email first (emails contain digits/dots that later rules could
mangle). The patterns are applied as chained global replaces in that
priority order — see the note above ``PII_PATTERNS`` for why a single
alternation would break the invariant. Patterns are restricted to syntax
with identical semantics in Java regex (Spark) and RE2 (the DuckDB oracle).

``anonymize_col`` guards the chain so that most rows skip the regex
engine, with the plain chain's output on every row:

- the email pass runs only when the text contains ``@``: every email match
  contains one;
- the four digit passes run only when the email pass's output matches
  ``[0-9][-.][0-9]``: every match of ``ssn``, ``intl_phone``, ``us_phone``
  and ``short_phone`` contains a digit, then ``-`` or ``.``, then a digit.
  Without such a substring none of them matches, and no pass can create
  one for a later pass, because ``TOKEN`` contains no digit.

A text that holds both an email and a phone pays the two guard scans on
top of the full chain; text without PII (most of a crawl) pays only the
two scans. ``anonymize_sql`` (the DuckDB oracle) stays the plain chain.
A new pattern must keep to these guards; ``tests/test_properties.py``
fails if one does not.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN = "ANONYMIZED"

# (name, regex) — applied as CHAINED global replaces, in list order.
#
# Chained (not a single alternation) is load-bearing: a combined alternation
# is leftmost-POSITION-first, so a later-listed short pattern matching at an
# earlier position preempts an earlier-listed long one — e.g. in
# '123-4567-89-1234' the short_phone '123-4567' would eat the SSN prefix and
# leak '89-1234'. Chained replaces apply each pattern globally in priority
# order, so the SSN is masked first ('123-4ANONYMIZED') and a phone rule can
# never eat half an SSN. The replacement TOKEN contains no digits, so earlier
# passes cannot create new matches for later ones.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ("intl_phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("us_phone", "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"),
    ("short_phone", "[0-9]{3}-[0-9]{4}"),
]


# Every match of a pattern after the email contains a digit, then '-' or
# '.', then a digit (tests/test_properties.py checks each pattern).
_DIGIT_SEP_RE = "[0-9][-.][0-9]"


def anonymize_col(c: Column) -> Column:
    """The chained replaces of ``PII_PATTERNS``, each run only on rows it
    can change (see the module docstring): same output as the plain chain."""
    (_, email), *digit_patterns = PII_PATTERNS
    out = F.when(
        F.instr(c, "@") > 0, F.regexp_replace(c, email, TOKEN)
    ).otherwise(c)
    masked = out
    for _, pat in digit_patterns:
        masked = F.regexp_replace(masked, pat, TOKEN)
    return F.when(out.rlike(_DIGIT_SEP_RE), masked).otherwise(out)


def anonymize_sql(expr: str) -> str:
    """The identical chained replaces as DuckDB SQL (oracle parity)."""
    out = expr
    for _, pat in PII_PATTERNS:
        lit = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{lit}', '{TOKEN}', 'g')"
    return out


# Rule-based NER pass (the deterministic half of "regex/NER" in the build
# contract): entity shapes detectable without a model. Same chained-replace
# discipline and engine-portable syntax as PII_PATTERNS (no lookarounds —
# RE2 has none; no \b — Java and RE2 agree but word-boundary next to the
# replacement brackets is fragile). Order is load-bearing:
# honorific-triggered PERSON first (most specific — an org rule must never
# eat 'Dr. Acme Smith'), then ORG by legal-suffix, then title-cased
# bigram PERSON after a reporting verb cue. Replacement tokens contain no
# capitalized-word shape, so earlier passes cannot create later matches.
NER_PERSON_TOKEN = "[PERSON]"
NER_ORG_TOKEN = "[ORG]"

NER_PATTERNS: list[tuple[str, str, str]] = [
    (
        "person_honorific",
        "(Mr|Mrs|Ms|Dr|Prof)\\.? [A-Z][a-z]+( [A-Z][a-z]+)?",
        NER_PERSON_TOKEN,
    ),
    (
        # bounded {1,4}: an unbounded ( Word )+ backtracks O(n²) in Java on
        # adversarial all-capitalized documents (RE2 wouldn't, but the hot
        # path is Spark); real org names rarely exceed 5 words.
        "org_suffix",
        "([A-Z][A-Za-z]+ ){1,4}(Inc|Corp|Ltd|LLC|GmbH)\\.?",
        NER_ORG_TOKEN,
    ),
    (
        "person_said",
        "[A-Z][a-z]+ [A-Z][a-z]+(,? (said|told|wrote|reported))",
        NER_PERSON_TOKEN + "$1",
    ),
]


def ner_anonymize_col(c: Column) -> Column:
    out = c
    for _, pat, repl in NER_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def ner_anonymize_sql(expr: str) -> str:
    """The identical chained NER replaces as DuckDB SQL. RE2 uses \\1 for
    group backreferences in the replacement where Java uses $1 (DuckDB's
    plain single-quoted strings pass the backslash through verbatim)."""
    out = expr
    for _, pat, repl in NER_PATTERNS:
        lit = pat.replace("'", "''")
        r = repl.replace("$", "\\")
        out = f"regexp_replace({out}, '{lit}', '{r}', 'g')"
    return out
