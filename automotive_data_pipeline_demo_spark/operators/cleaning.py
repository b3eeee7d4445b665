"""Contact/data cleaning predicates and normalizers.

Reference parity (all pure column expressions — zero UDFs, so they stay
inside whole-stage codegen):
- P5 marketable-contact predicate (``sql/customer_360_views.sql:175-186``)
- P6 email validity / dummy-email rejection (``sql/customer_360_views.sql:93-101``)
- P10 ``clean_numeric_value`` / ``clean_string_value``
  (``scripts/lambda_redshift_to_segment.py:248-261``)
- F2/F3/F6 lower/trim/regexp_replace normalizers
  (``sql/customer_360_views.sql:99-116``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Dummy-email prefixes and domains rejected by the reference
# (sql/customer_360_views.sql:93-101). Redshift `~*` = case-insensitive regex
# -> Java regex with an embedded (?i) flag.
_DUMMY_PREFIX = r"(?i)^(no|nothanks|none|noemail|declined|x|xx|xxx)@"
_DUMMY_DOMAIN = r"(?i)(@example\.com|@test\.com|@dealer\.com|@dealership\.com|@noemail|@nomail)"
_EMAIL_SHAPE = r"(?i)^[^@\s]+@[^@\s]+\.[^@\s]+$"


def clean_string_value(col: Column | str) -> Column:
    """TRIM; empty string -> NULL (P10)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def clean_numeric_value(col: Column | str) -> Column:
    """String -> double, blank/garbage -> NULL (P10; permissive cast)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c.cast("string")), F.lit("")).cast("double")


def clean_email(col: Column | str) -> Column:
    """LOWER(TRIM(email)), '' -> NULL (F2 at sql/customer_360_views.sql:99)."""
    return F.lower(clean_string_value(col))


def clean_phone(col: Column | str) -> Column:
    """Strip non-digits; NULL if no digits remain (F3 at :106-107)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_replace(c.cast("string"), r"[^0-9]", ""), F.lit(""))


def is_valid_email(col: Column | str) -> Column:
    """Email passes shape check and is not a known dummy (P6)."""
    e = clean_email(col)
    return (
        e.isNotNull()
        & e.rlike(_EMAIL_SHAPE)
        & ~e.rlike(_DUMMY_PREFIX)
        & ~e.rlike(_DUMMY_DOMAIN)
    )


# Scan (non-anchored) forms of the reference's email/phone shapes
# (sql/customer_360_views.sql:93-107) for free-text PII redaction. Kept to
# the Java-regex/RE2 common subset so the DuckDB oracle runs them verbatim.
EMAIL_SCAN_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_SCAN_RE = r"\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}"
# Octet-bounded dotted quad: each octet <= 255, leading zeros allowed
# (log formats zero-pad: 192.168.001.100). Strings that are ALSO valid
# quads (version-like "1.2.3.4") still match — that ambiguity is inherent
# to a shape-based scrub and redacting them is the safe default for PII.
_IPV4_OCTET = r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
IPV4_SCAN_RE = r"\b" + _IPV4_OCTET + r"(?:\." + _IPV4_OCTET + r"){3}\b"


def count_emails(col: Column | str) -> Column:
    """Number of email-shaped substrings in free text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(EMAIL_SCAN_RE), F.lit(0)))


def count_phones(col: Column | str) -> Column:
    """Number of phone-shaped substrings in free text (emails pre-masked so
    digit runs inside addresses are not double-counted)."""
    c = F.col(col) if isinstance(col, str) else col
    masked = F.regexp_replace(c, EMAIL_SCAN_RE, "")
    return F.size(F.regexp_extract_all(masked, F.lit(PHONE_SCAN_RE), F.lit(0)))


def redact_pii(
    col: Column | str,
    email_token: str = "[EMAIL]",
    phone_token: str = "[PHONE]",
    ip_token: str | None = None,
) -> Column:
    """Replace email- then (optionally) IP- then phone-shaped substrings
    with fixed tokens.

    Training-corpus PII scrub as pure JVM regexp_replace (no UDF, stays in
    whole-stage codegen). Email pass runs first so later passes can never
    fire on digit runs inside an address; the optional IPv4 pass
    (``ip_token``, the web-corpus third PII class alongside emails and
    phones) runs BEFORE the phone pass so dotted quads are never half-
    consumed as phone shapes; the operation is idempotent — the tokens
    contain no digits or '@', so a second pass is a no-op.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, EMAIL_SCAN_RE, email_token)
    if ip_token is not None:
        out = F.regexp_replace(out, IPV4_SCAN_RE, ip_token)
    return F.regexp_replace(out, PHONE_SCAN_RE, phone_token)
