"""String / price / URL scalar functions (SURVEY F9-F13, F20-F25).

Each mirrors a reference helper; citations inline. All pure builtin
expressions (regexp_extract/replace, when-chains) — the hot path stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ----------------------------------------------------------------------
# F11 — whitespace normalization


# Python str.strip() / re-module \s whitespace, as a Java regex class.
# Java \s is only [ \t\n\x0B\f\r]; Python additionally treats the
# \x1c-\x1f info separators, NEL (\x85 — category Cc, so \p{Z} does NOT
# match it; the r14 parity bug), and every \p{Z} space/line/paragraph
# separator as whitespace. test_py_ws_class_exhaustive pins this class ==
# str.isspace() over the full codepoint range.
_PY_WS_CHARS = r"\s\x1c-\x1f\x85\p{Z}"
_PY_WS = f"[{_PY_WS_CHARS}]"

#: The same set for RE2 (DuckDB oracle SQL). RE2's \s is [\t\n\f\r ] —
#: vertical tab (\x0b) must be added explicitly on top of the Java delta.
PY_WS_RE2 = r"[\s\x0b\x1c-\x1f\x85\p{Z}]"


def python_strip(c: Column) -> Column:
    """Full-parity Python ``str.strip()``: strips everything ``str.isspace()``
    considers whitespace, not just Java's ``\\s``. Use at every site that
    mirrors a reference ``.strip()`` (key parity: normalize.py maps, J2
    composite ids, F11 normalization)."""
    return F.regexp_replace(c, f"^{_PY_WS}+|{_PY_WS}+$", "")


# str.strip() is the reference's only edge trim; keep the old internal name
# as an alias so existing call sites keep reading like the reference.
_strip_ws = python_strip


def normalize_whitespace(c: Column) -> Column:
    """strip + collapse all whitespace runs to ' ', empty → NULL
    (scrapers_v2/data_quality/cleaning.py:5-19). Strip AND collapse use the
    full Python whitespace set: the reference strips with str.strip() and
    collapses with re-\\s, which match the same chars."""
    return F.nullif(F.regexp_replace(python_strip(c), f"{_PY_WS}+", " "), F.lit(""))


def normalize_text_v2(c: Column) -> Column:
    """strip + collapse only 2+ whitespace (single newlines survive), empty →
    NULL (scrapers_v2/schema_adapter.py:21-26). Full Python whitespace set,
    as in normalize_whitespace."""
    return F.nullif(F.regexp_replace(python_strip(c), f"{_PY_WS}{{2,}}", " "), F.lit(""))


# ----------------------------------------------------------------------
# F9 — price extraction (scrapers_v2/schema_adapter.py:71-105)

_PRICE_RE = r"(?:from\s*)?([€$£])?\s*(\d+(?:[.,]\d{1,2})?)\s*([€$£]|[A-Za-z]{3})?"


def extract_price(price_text: Column) -> Column:
    """Returns struct(amount double, currency string).

    "free"/"gratis" → (0.0, EUR); else first money-pattern match with symbol/
    ISO-code resolution and EUR default, mirroring the reference branch order.
    """
    # reference does price_text.strip().lower() — the edge strip is
    # UNOBSERVABLE here (both `contains` and regexp_extract search anywhere
    # in the string), so plain trim is parity-safe; no python_strip needed.
    t = F.lower(F.trim(price_text))
    is_free = t.contains("free") | t.contains("gratis")

    sym_before = F.nullif(F.regexp_extract(t, _PRICE_RE, 1), F.lit(""))
    amount_str = F.nullif(F.regexp_extract(t, _PRICE_RE, 2), F.lit(""))
    sym_after = F.nullif(F.regexp_extract(t, _PRICE_RE, 3), F.lit(""))

    amount = F.replace(amount_str, F.lit(","), F.lit(".")).cast("double")
    currency = (
        F.when(
            (sym_before == "€") | (sym_after == "€") | (F.lower(sym_after) == "eur"), "EUR"
        )
        .when((sym_before == "$") | (sym_after == "$") | (F.lower(sym_after) == "usd"), "USD")
        .when((sym_before == "£") | (sym_after == "£") | (F.lower(sym_after) == "gbp"), "GBP")
        .when(F.length(sym_after) == 3, F.upper(sym_after))
        .otherwise("EUR")
    )
    return F.when(
        price_text.isNull(), F.struct(F.lit(None).cast("double").alias("amount"), F.lit(None).cast("string").alias("currency"))
    ).when(
        is_free, F.struct(F.lit(0.0).alias("amount"), F.lit("EUR").alias("currency"))
    ).when(
        amount_str.isNull(),
        F.struct(F.lit(None).cast("double").alias("amount"), F.lit(None).cast("string").alias("currency")),
    ).otherwise(F.struct(amount.alias("amount"), currency.alias("currency")))


# ----------------------------------------------------------------------
# F10 — currency amount normalization (schema_adapter_enhanced.py:157-175)

VALID_CURRENCIES = ("EUR", "USD", "GBP", "JPY", "INR", "AUD", "CAD", "CHF")


def normalize_currency_code(currency: Column) -> Column:
    """Uppercase + ISO-4217 whitelist, default EUR."""
    up = F.upper(currency)
    return F.when(up.isin(*VALID_CURRENCIES), up).otherwise(F.lit("EUR"))


# ----------------------------------------------------------------------
# F12 — HTML entity unescape (scrapers_v2/data_quality/cleaning.py:21-32)

_COMMON_ENTITIES = (
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&#x27;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
)


def html_unescape(c: Column) -> Column:
    """Common-entity unescape as a replace chain over ``_COMMON_ENTITIES``.
    Full ``html.unescape`` coverage is intentionally not replicated: named
    entities beyond this table and numeric character references other
    than ``&#39;``/``&#x27;`` pass through unchanged."""
    out = c
    for ent, ch in _COMMON_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


# ----------------------------------------------------------------------
# F13 — URL validate + normalize (schema_adapter_enhanced.py:89-105)


def normalize_url(url: Column) -> Column:
    """Prefix https:// when schemeless; NULL when not scheme+host shaped."""
    with_scheme = F.when(
        url.rlike(r"(?i)^https?://"), url
    ).otherwise(F.concat(F.lit("https://"), url))
    valid = with_scheme.rlike(r"(?i)^https?://[^\s/]+\.[^\s/]+")
    return F.when(url.isNull() | (url == ""), F.lit(None).cast("string")).when(
        valid, with_scheme
    ).otherwise(F.lit(None).cast("string"))


# ----------------------------------------------------------------------
# F20/F23 — hashing & snippets


def url_hash(url: Column) -> Column:
    """md5 cache key (ventura_crawler.py:243,261)."""
    return F.md5(url)


def snippet(c: Column, n: int = 150) -> Column:
    """Truncate with ellipsis (query_examples.py:255-258)."""
    return F.when(F.length(c) <= n, c).otherwise(F.concat(F.substring(c, 1, n), F.lit("...")))


# ----------------------------------------------------------------------
# F24 — free/soldout derivations (mono_ticketmaster.py:370-383)

_SOLDOUT_WORDS = ("sold out", "soldout", "sold-out", "agotado")


def is_free(price: Column, status_text: Column) -> Column:
    """price==0 or 'free' in status text; any positive price overrides."""
    textual_free = F.coalesce(F.lower(status_text).contains("free"), F.lit(False))
    return F.when(price > 0, F.lit(False)).otherwise((price == 0) | textual_free)


def is_sold_out(status_text: Column) -> Column:
    t = F.lower(F.coalesce(status_text, F.lit("")))
    out = F.lit(False)
    for w in _SOLDOUT_WORDS:
        out = out | t.contains(w)
    return out


# ----------------------------------------------------------------------
# F25 — confidence decay (schema_adapter_enhanced.py:45-61)


def confidence_score(n_errors: Column, n_warnings: Column, n_info: Column) -> Column:
    """1.0 × 0.7^errors × 0.9^warnings × 0.95^info."""
    return (
        F.pow(F.lit(0.7), n_errors) * F.pow(F.lit(0.9), n_warnings) * F.pow(F.lit(0.95), n_info)
    )


def classify_event_type(title: Column, venue: Column) -> Column:
    """F19 — keyword event-type classifier
    (schema_adapter_enhanced.py:570-583): festival/day_party/concert by
    title/venue keywords, default club_night."""
    lt, lv = F.lower(title), F.lower(venue)
    return (
        F.when(lt.rlike("festival|fest"), "festival")
        .when(lv.rlike("beach|pool|outdoor"), "day_party")
        .when(lt.rlike("live|concert|band"), "concert")
        .otherwise("club_night")
    )
