"""Vectorized URL functions: Arrow-batched pandas UDFs over the scalar core
in ``x227f_spark.urlutil`` plus pure-``F`` column variants where the
semantics are expressible JVM-side (those stay in whole-stage codegen and
are preferred in the hot path).

Operator ids per SURVEY.md §2: U1 (PageId), U2 (page-URL cleanup), U5
(join), U6 (source_filename), U8 (sha256-trunc32), F1 (host suffix
filter).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..urlutil import (
    Url,
    clean_page_url,
    page_id_of,
)


# ---------------------------------------------------------------------------
# U1 — PageId normalization
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def page_id_udf(urls: pd.Series) -> pd.Series:
    """url → PageId display string (data.rs:534-552 + 510-520)."""
    return urls.map(lambda u: page_id_of(u) if u is not None else None)


def url_host(url: Column) -> Column:
    """Host of a canonical absolute URL (column form)."""
    rest = F.regexp_replace(url, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    return F.regexp_replace(host, r":\d+$", "")


# ---------------------------------------------------------------------------
# U2 — page-URL cleanup
# ---------------------------------------------------------------------------

def make_clean_page_url_udf(tracking_params: tuple[str, ...] = ("ref", "si")):
    @pandas_udf(StringType())
    def clean_page_url_udf(urls: pd.Series) -> pd.Series:
        def _clean(u):
            if u is None:
                return None
            parsed = Url.parse(u)
            if parsed is None:
                return u
            return clean_page_url(parsed, tracking_params).to_string()

        return urls.map(_clean)

    return clean_page_url_udf


# ---------------------------------------------------------------------------
# U5 — relative URL resolution
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def url_join_udf(base: pd.Series, ref: pd.Series) -> pd.Series:
    def _join(b, r):
        if b is None or r is None:
            return None
        parsed = Url.parse(b)
        if parsed is None:
            return None
        joined = parsed.join(r)
        return joined.to_string() if joined is not None else None

    return pd.Series([_join(b, r) for b, r in zip(base, ref)])


# ---------------------------------------------------------------------------
# U6 — source_filename (pure Column; parity with data.rs:498-508)
# ---------------------------------------------------------------------------

def source_filename_col(path: Column) -> Column:
    """Last path segment before the first '.'; input is a URL *path*."""
    trimmed = F.regexp_replace(path, r"/+$", "")
    last = F.element_at(F.split(trimmed, "/"), -1)
    return F.element_at(F.split(last, r"\."), 1)


# ---------------------------------------------------------------------------
# U8 — content hash (pure Column, exact)
# ---------------------------------------------------------------------------

def sha256_trunc32_col(data: Column) -> Column:
    return F.substring(F.sha2(data, 256), 1, 32)


# ---------------------------------------------------------------------------
# F1 — host suffix-list membership (pure Column)
# ---------------------------------------------------------------------------

def host_matches_col(host: Column, domain: str) -> Column:
    """main.rs:300-309 — ``host`` is ``domain`` or one of its subdomains."""
    return (host == domain) | host.endswith("." + domain)


def hosts_list_contains_col(host: Column, hosts: tuple[str, ...]) -> Column:
    """main.rs:300-309 over a constant list: any domain matches."""
    cond = F.lit(False)
    for d in hosts:
        cond = cond | host_matches_col(host, d)
    return cond

