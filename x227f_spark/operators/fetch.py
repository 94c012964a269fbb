"""The fetch/extract stage of a crawl round — fully distributed.

Pipeline (one round, SURVEY.md §3.1 "fetch" step)::

    selected(url, page_id, host, crawl_pos)
      → corpus join (http+documents)            S5, P6 basic redirect
      → classification                          F4/F6 + redirect/error pages
      → extraction pandas UDF                   E1-E3 (single pass per doc)
      → candidate explode → cache join (J1)     broadcast button_cache
      → resolved-images join (S6 redirects)     precomputed 3-hop resolution
      → validation pandas UDF                   S7/F10/U8/X3
      → per-page budget pass (applyInPandas)    T5 rotation + P8 abort
      → ordered button re-assembly              order-preserving collect

Everything bytes/HTML-shaped runs in Arrow-batched pandas UDFs over the
scalar core in ``extract_logic`` (the same code the golden model runs);
everything else is built-in ``F``-expressions/joins, so Catalyst keeps
filter pushdown and whole-stage codegen around the two UDF exchanges.

Skew handling: the fetch set is repartitioned on a salted host key before
the extraction UDF so one mega-host can't serialize a stage; politeness
budgets were already enforced per *host* upstream, so salting cannot
over-crawl a host (SURVEY.md §4 item 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType, StringType, StructType, StructField,
)

from ..constants import EngineConfig
from ..extract_logic import (
    ImageResponse,
    candidate_scrape_order,
    extract_spans,
    unpack_img_attrs,
)
from .. import imagebytes
from ..urlutil import (
    Url,
    page_id_of,
    transform_image_url_bypass,
)

# ---------------------------------------------------------------------------
# Corpus-level precomputation: 3-hop image redirect resolution (image.rs:296-318)
# ---------------------------------------------------------------------------

def resolve_image_redirects(images: DataFrame) -> DataFrame:
    """For every images row, the terminal response of the reference's
    redirect-following loop: ≤3 distinct URLs visited, loop-detect via the
    visited set, terminal response may itself be a 3xx (→ error downstream).

    Returns resolved(url, f_found, f_status, f_content_type, f_bytes,
    f_declared_len, f_final_url). Amortized once per corpus, not per round.
    """
    def _hop(i):
        # the images columns suffixed with the redirect hop (0, 1 or 2)
        return images.select(*[F.col(c).alias(f"{a}{i}") for c, a in (
            ("url", "u"), ("status", "s"), ("content_type", "c"),
            ("redirect_to", "r"), ("bytes", "b"), ("declared_len", "d"))])

    i0, i1, i2 = _hop(0), _hop(1), _hop(2)

    is_redir0 = F.col("r0").isNotNull() & (F.col("s0") >= 300) & (F.col("s0") < 400)
    df = i0.join(i1, F.when(is_redir0, F.col("r0")) == F.col("u1"), "left")
    is_redir1 = F.col("r1").isNotNull() & (F.col("s1") >= 300) & (F.col("s1") < 400)
    df = df.join(i2, F.when(is_redir0 & is_redir1, F.col("r1")) == F.col("u2"),
                 "left")

    # stop conditions mirroring the visited-set loop:
    #  stop@0: not a redirect, or target == start (immediate loop)
    stop0 = (~is_redir0) | (F.col("r0") == F.col("u0"))
    #  fetch of r0 missing → network error
    miss1 = is_redir0 & ~stop0 & F.col("u1").isNull()
    #  stop@1: not a redirect, or target already visited {u0, r0}
    stop1 = (~is_redir1) | (F.col("r1") == F.col("u0")) | (F.col("r1") == F.col("r0"))
    miss2 = ~stop0 & ~miss1 & ~stop1 & F.col("u2").isNull()

    pick = (
        F.when(stop0, F.lit(0))
        .when(miss1, F.lit(-1))
        .when(stop1, F.lit(1))
        .when(miss2, F.lit(-1))
        .otherwise(F.lit(2))  # hop2 terminal; still-3xx → error downstream
    )

    def _sel(name0, name1, name2):
        return (F.when(pick == 0, F.col(name0))
                .when(pick == 1, F.col(name1))
                .when(pick == 2, F.col(name2)))

    return df.select(
        F.col("u0").alias("url"),
        (pick >= 0).alias("f_found"),
        _sel("s0", "s1", "s2").alias("f_status"),
        _sel("c0", "c1", "c2").alias("f_content_type"),
        _sel("b0", "b1", "b2").alias("f_bytes"),
        _sel("d0", "d1", "d2").alias("f_declared_len"),
        _sel("u0", "u1", "u2").alias("f_final_url"),
    )


# ---------------------------------------------------------------------------
# E1-E3 — extraction UDF
# ---------------------------------------------------------------------------

def make_extract_udf(cfg: EngineConfig):
    tracking = cfg.tracking_params
    max_links = cfg.max_internal_links

    @pandas_udf("candidates array<struct<ord:int,src:string,image_url:string,"
                "alt:string,title:string,href:string>>, "
                "internal_links array<string>")
    def extract_udf(spans: pd.Series, res_url: pd.Series) -> pd.DataFrame:
        from ..urlutil import transform_image_url_clean

        cands_out, links_out = [], []
        for sp, base in zip(spans, res_url):
            if sp is None or base is None:
                cands_out.append([])
                links_out.append([])
                continue
            tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in sp]
            res = extract_spans(tuples, base, tracking, max_links)
            out = []
            for i, c in enumerate(res.candidates):
                u = Url.parse(c.src)
                image_url = (transform_image_url_clean(u).to_string()
                             if u is not None else c.src)
                out.append({"ord": i, "src": c.src, "image_url": image_url,
                            "alt": c.alt, "title": c.title, "href": c.href})
            cands_out.append(out)
            links_out.append(res.internal_links)
        return pd.DataFrame({"candidates": cands_out,
                             "internal_links": links_out})

    return extract_udf


# ---------------------------------------------------------------------------
# S6/S7 + F10 + U8 — candidate validation UDF
# ---------------------------------------------------------------------------

@pandas_udf(BinaryType())
def data_uri_bytes_udf(urls: pd.Series) -> pd.Series:
    """S7 — decoded payload of a data: URI (media-sink byte source; runs
    only over the per-round distinct kept hashes)."""
    def _d(u):
        r = imagebytes.parse_data_uri(u) if u else None
        return r[0] if r else None

    return urls.map(_d)


@pandas_udf(StringType())
def bypass_url_udf(image_url: pd.Series) -> pd.Series:
    """U4 — the URL actually requested (image.rs:290)."""
    def _b(u):
        if u is None or u.startswith("data:"):
            return u
        p = Url.parse(u)
        return transform_image_url_bypass(p).to_string() if p else u

    return image_url.map(_b)


@pandas_udf(StructType([
    StructField("disposition", StringType()),
    StructField("hash", StringType()),
    StructField("file_ext", StringType()),
    StructField("source", StringType()),
]))
def validate_image_udf(image_url: pd.Series, joined: pd.Series,
                       f_found: pd.Series, f_status: pd.Series,
                       f_content_type: pd.Series, f_bytes: pd.Series,
                       f_declared_len: pd.Series, f_final_url: pd.Series,
                       was_transformed: pd.Series) -> pd.DataFrame:
    """Outcome of the non-cached fetch path for one candidate.

    disposition: 'valid' | 'not_button' | 'error' (error → stale-cache
    fallback upstream, image.rs:108-125).

    Deliberately does NOT return the image bytes: a page's buttons repeat
    across the whole crawl (millions of candidate rows, a few thousand
    distinct images), so shipping bytes per candidate row back through
    Arrow and the round's checkpoints is almost-pure duplicate traffic.
    The media sink re-reads bytes once per *distinct kept hash* from the
    resolved-images table / data-URI decode (plans/rounds.py media path).
    """
    from ..extract_logic import download_88x31_image

    def _nn(v):  # "not null" — nullable Arrow columns surface as NaN/None
        return v is not None and not (isinstance(v, float) and pd.isna(v))

    out = {"disposition": [], "hash": [], "file_ext": [], "source": []}
    for i in range(len(image_url)):
        url = image_url.iloc[i]
        if url is not None and url.startswith("data:"):
            dl = download_88x31_image(url, lambda _u: None, None)
        elif not (_nn(joined.iloc[i]) and bool(joined.iloc[i])):
            dl = {"error": True}  # candidate URL absent from the network
        else:
            sv, bv, dv = f_status.iloc[i], f_bytes.iloc[i], f_declared_len.iloc[i]
            ctv = f_content_type.iloc[i]
            resp = ImageResponse(
                status=int(sv) if _nn(sv) else 0,
                content_type=ctv if _nn(ctv) else None,
                redirect_to=None,
                data=bytes(bv) if _nn(bv) else None,
                declared_len=int(dv) if _nn(dv) else None,
            )
            fv = f_found.iloc[i]
            if not (_nn(fv) and bool(fv)):
                dl = {"error": True}
            elif not (200 <= resp.status < 300):
                dl = {"error": True}
            elif resp.content_type is None or not resp.content_type.startswith("image/"):
                dl = {"error": True}
            else:
                total = (resp.declared_len if resp.declared_len is not None
                         else len(resp.data or b""))
                if total > 10 * 1024 * 1024:
                    dl = {"ok": True, "bytes": b"", "format": None}
                else:
                    fmt = imagebytes.guess_format(resp.data or b"")
                    if fmt is None:
                        dl = {"error": True}
                    else:
                        dl = {"ok": True, "bytes": resp.data, "format": fmt,
                              "final_url": f_final_url.iloc[i]}

        if dl.get("error"):
            out["disposition"].append("error")
            out["hash"].append(None); out["file_ext"].append(None)
            out["source"].append(None)
            continue
        data, fmt = dl.get("bytes"), dl.get("format")
        if not data or fmt is None or \
                imagebytes.validate_image_size(data, fmt) is not True:
            out["disposition"].append("not_button")
            out["hash"].append(None); out["file_ext"].append(None)
            out["source"].append(None)
            continue
        out["disposition"].append("valid")
        out["hash"].append(imagebytes.hash_image(data))
        out["file_ext"].append(imagebytes.format_extension(fmt))
        if url.startswith("data:"):
            out["source"].append(None)  # data: URIs have no source URL
        elif bool(was_transformed.iloc[i]):
            out["source"].append(url)
        else:
            out["source"].append(dl.get("final_url"))
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# T5 + P8 — per-page scrape-budget pass
# ---------------------------------------------------------------------------

def budget_pass(cand: DataFrame, num_partitions: int = 32) -> DataFrame:
    """T5 rotation + P8 abort, emitting kept buttons.

    The sequential rule (image.rs:26-65) has a closed form: ``valid`` only
    ever grows, so the abort (break when >100 scraped and 0 valid) fires iff
    none of the first 101 candidates *in rotated order* is a button — and in
    that case nothing was kept anyway. Hence: keep no buttons when the first
    101 rotated candidates contain none, else keep every button. That makes
    the whole pass vectorizable: one partition-level mapInPandas (pandas
    groupby inside), instead of a 10k-tiny-group applyInPandas.
    """
    schema = ("crawl_pos long, ord int, source string, hash string, "
              "file_ext string, target string, last_visited timestamp, "
              "alt string, title string")
    out_cols = ["crawl_pos", "ord", "source", "hash", "file_ext", "target",
                "last_visited", "alt", "title"]

    def process(batches):
        import numpy as np

        parts = list(batches)
        if not parts:
            return
        df = pd.concat(parts, ignore_index=True)
        if df.empty:
            yield pd.DataFrame(columns=out_cols)
            return
        df = df.sort_values(["crawl_pos", "ord"], kind="mergesort")

        fresh = df["cache_fresh"].fillna(False).to_numpy(dtype=bool)
        valid_new = (df["disposition"] == "valid").to_numpy()
        has_cache = df["c_hash"].notna().to_numpy()
        err = (df["disposition"] == "error").to_numpy()
        is_btn = fresh | valid_new | (~fresh & err & has_cache)

        keep = np.zeros(len(df), dtype=bool)
        grp = df.groupby("crawl_pos", sort=False).indices
        for _pos, idx in grp.items():
            n = len(idx)
            order = candidate_scrape_order(n)
            first = np.asarray(order[: min(n, 101)])
            if not is_btn[idx[first]].any():
                continue  # P8 abort (or simply nothing valid)
            keep[idx] = is_btn[idx]

        kept = df[keep]
        if kept.empty:
            yield pd.DataFrame(columns=out_cols)
            return
        k_fresh = kept["cache_fresh"].fillna(False).to_numpy(dtype=bool)
        k_valid = (kept["disposition"] == "valid").to_numpy()
        use_cache = k_fresh | ~k_valid  # fresh hit or stale fallback
        out = pd.DataFrame({
            "crawl_pos": kept["crawl_pos"].values,
            "ord": kept["ord"].values,
            "source": np.where(use_cache, kept["image_url"], kept["source"]),
            "hash": np.where(use_cache, kept["c_hash"], kept["hash"]),
            "file_ext": np.where(use_cache, kept["c_ext"], kept["file_ext"]),
            "target": kept["href"].values,
            "last_visited": kept["c_last"].where(
                pd.Series(use_cache, index=kept.index), kept["now"]).values,
            "alt": kept["alt"].values,
            "title": kept["title"].values,
        })
        yield out

    return (cand.repartition(num_partitions, "crawl_pos")
            .mapInPandas(process, schema))


# ---------------------------------------------------------------------------
# page-level fetch classification
# ---------------------------------------------------------------------------

def _location(u, s, r):
    """Resolved Location ``r`` of a 3xx response for ``u``, if != ``u``."""
    if u is None or r is None or s is None or not (300 <= s < 400):
        return None
    base = Url.parse(u)
    tgt = base.join(r) if base is not None else None
    if tgt is None:
        return None
    t = tgt.to_string()
    return t if t != u else None


@pandas_udf(StringType())
def p6_target_udf(url: pd.Series, status: pd.Series,
                  redirect_to: pd.Series) -> pd.Series:
    """page.rs:128-137 — same-PageId redirect target, else null."""
    def _t(u, s, r):
        t = _location(u, s, r)
        return t if t is not None and page_id_of(t) == page_id_of(u) else None

    return pd.Series([_t(u, s, r) for u, s, r in zip(url, status, redirect_to)])


@pandas_udf(StringType())
def redirect_target_udf(res_url: pd.Series, status: pd.Series,
                        redirect_to: pd.Series) -> pd.Series:
    """mod.rs:37-45 — resolved Location of a 3xx, if != res_url."""
    return pd.Series([_location(u, s, r)
                      for u, s, r in zip(res_url, status, redirect_to)])
