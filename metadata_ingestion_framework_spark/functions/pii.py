"""PII governance: masking, anonymization, encryption.

Reference parity: Utility.scala:54-133,178-223 + OrchestrationConstant.scala:58-74.
The reference drives these from a ``pii_column_details`` catalog; the same
catalog-driven flow lives in plans/metadata.py — these are the primitives.

Scale notes:
- ``mask_it`` / ``encrypt_it`` are pure Catalyst expressions (regexp_replace,
  aes_encrypt) — codegen'd, no Python.
- ``anonymize_free_text`` (replace each CC/SSN/email match with its SHA-256)
  cannot be a single Catalyst expression (the replacement is a function of
  the match), so it is an Arrow-batched pandas UDF — the vectorized slow
  path, not a row-at-a-time UDF.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Free-text PII patterns (semantics of OrchestrationConstant.scala:58-74:
# credit cards of the major networks, SSNs, emails). Standard public regexes.
CREDIT_CARD_RE = (
    r"\b(?:4[0-9]{12}(?:[0-9]{3})?"  # Visa
    r"|5[1-5][0-9]{14}"  # MasterCard
    r"|3[47][0-9]{13}"  # AmEx
    r"|3(?:0[0-5]|[68][0-9])[0-9]{11}"  # Diners
    r"|6(?:011|5[0-9]{2})[0-9]{12}"  # Discover
    r"|(?:2131|1800|35\d{3})\d{11})\b"  # JCB
)
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
EMAIL_RE = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
# re.ASCII: the reference's Java regexes match ASCII digits only for \d, so
# e.g. Arabic-Indic digits are not an SSN there and must not be here.
PII_FREE_TEXT_RE = re.compile(
    f"(?:{CREDIT_CARD_RE})|(?:{SSN_RE})|(?:{EMAIL_RE})", re.ASCII
)


def mask_it(
    df: DataFrame,
    pattern: str,
    replace_val: str,
    drop_source_column: bool,
    *cols: str,
) -> DataFrame:
    """Regex-mask columns in place, or into ``{col}_masked`` keeping the source.

    Parity: Utility.scala:76-89 (`maskIt`).
    """
    for c in cols:
        if drop_source_column:
            df = df.withColumn(c, F.regexp_replace(F.col(c), pattern, replace_val))
        else:
            df = df.withColumn(f"{c}_masked", F.regexp_replace(F.col(c), pattern, replace_val))
    return df


def _sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _anonymize(text: str | None) -> str | None:
    if text is None:
        return None
    return PII_FREE_TEXT_RE.sub(lambda m: _sha256_hex(m.group(0)), text)


@F.pandas_udf(StringType())
def anonymize_pii_udf(s: pd.Series) -> pd.Series:
    """Replace each credit-card/SSN/email match with its SHA-256 hex digest.

    Parity: Utility.scala:178-200 (`anonymizePIIData`) — per-match hashing so
    equal PII values stay joinable after anonymization.
    """
    return s.map(_anonymize)


def anonymize_free_text(df: DataFrame, *cols: str) -> DataFrame:
    """Apply the per-match PII anonymizer to free-text columns in place."""
    for c in cols:
        df = df.withColumn(c, anonymize_pii_udf(F.col(c)))
    return df


def hash_it_partial(df: DataFrame, *cols: str) -> DataFrame:
    """Free-text anonymization into ``{col}_hash`` (keeps the source column).

    Parity: Utility.scala:54-59 (`hashItPartial`).
    """
    for c in cols:
        df = df.withColumn(f"{c}_hash", anonymize_pii_udf(F.col(c)))
    return df


def _aes_key(key: str | None) -> Column:
    # AES-128/192/256 key material; reference pulls key+salt from a secret
    # scope (Crypt.scala:16-32). We accept a caller-supplied key and derive
    # 16 bytes deterministically so any passphrase works.
    k = key if key is not None else "mifs-default-key"
    return F.lit(hashlib.sha256(k.encode()).digest()[:16])


def encrypt_it(df: DataFrame, *cols: str, key: str | None = None) -> DataFrame:
    """AES-encrypt columns in place (base64-encoded ciphertext).

    Parity: Utility.scala:100-116 (`encryptIt`). The reference uses
    AES/ECB/PKCS5 via a Scala UDF; we use Spark's built-in ``aes_encrypt``
    (JVM-side, codegen'd) in ECB mode for deterministic ciphertext, which is
    what makes encrypted columns joinable — the property the reference relies
    on. Nulls encrypt the 'n/a' sentinel like the reference's coalesce.
    """
    k = _aes_key(key)
    for c in cols:
        plain = F.coalesce(F.col(c).cast("string"), F.lit("n/a"))
        df = df.withColumn(c, F.base64(F.aes_encrypt(plain, k, F.lit("ECB"))))
    return df


def decrypt_it(df: DataFrame, *cols: str, key: str | None = None) -> DataFrame:
    """Inverse of :func:`encrypt_it`; maps the 'n/a' sentinel back to null.

    Parity: Utility.scala:118-133 (`decryptIt`).
    """
    k = _aes_key(key)
    for c in cols:
        plain = F.aes_decrypt(F.unbase64(F.col(c)), k, F.lit("ECB")).cast("string")
        df = df.withColumn(c, F.when(plain == "n/a", F.lit(None)).otherwise(plain))
    return df


def identify_columns(
    input_columns: list[str], cols_to_identify: list[tuple[str, bool]]
) -> list[str]:
    """Resolve PII-catalog entries to actual DataFrame columns.

    Exact match when ``common_flag`` is set, substring match otherwise.
    Parity: Utility.scala:209-223 (`identifyColumns`). Pure driver-side list
    logic over a bounded column list — never touches data.
    """
    out: list[str] = []
    for name, common_flag in cols_to_identify:
        if common_flag:
            out.extend(c for c in input_columns if c == name)
        else:
            out.extend(c for c in input_columns if name in c)
    # preserve input order, dedupe
    seen: set[str] = set()
    return [c for c in out if not (c in seen or seen.add(c))]
