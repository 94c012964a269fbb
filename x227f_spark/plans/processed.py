"""X4 — the processed export: dictionary-encoded button graph
(processed.rs:46-215), as ~6 DataFrame stages (SURVEY.md §3.3), plus an
atomic 88x31.json / stats.json writer (S4, processed.rs:222-239).

Faithful semantics, with two reference behaviors pinned canonically:

1. **One-hop redirect resolution.** The reference's chase loop
   (processed.rs:117-129) inserts into ``prev_redirects`` *after*
   reassigning ``page_id``, so ``prev_redirects.contains(&page_id)`` is
   always true on the second iteration — chains resolve exactly ONE hop
   (self-redirects stay put). Reproduced as a single left join.
2. **Pinned iteration order.** The reference iterates a ``HashMap``
   (processed.rs:115), so its cross-page append order into the per-button /
   per-target vectors is nondeterministic run-to-run. Canonical order:
   sorted (host, path) of the *source* page, then button ordinal — matching
   the dictionary sort.

Dictionary order is the reference's ``BTreeSet<PageId>`` order — the
``(host, path)`` *tuple* order (derive(Ord) on the struct, data.rs:28-35),
which differs from display-string order; sorting is done on the split pair.

A pure-Python twin (`process_pages_python`) implements the same semantics
for the golden tests.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cbor
from ..functions.urlnorm import page_id_udf, source_filename_col
from ..operators.ranked import global_row_number
from ..urlutil import Url, page_id_of, source_filename


def _split_pid(col):
    host = F.split(col, "/", 2).getItem(0)
    path = F.when(col.contains("/"), F.split(col, "/", 2).getItem(1)) \
            .otherwise(F.lit(""))
    return host, path


def _ordered(value):
    """Aggregate: ``value`` collected per group in the canonical cross-page
    occurrence order (source host, path, ord)."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.struct("s_host", "s_path", "ord").alias("k"),
            value.alias("v")))),
        lambda s: s["v"])


def _http_scheme(col):
    return col.startswith("http://") | col.startswith("https://")


def build_processed(spark: SparkSession, pages: DataFrame) -> dict[str, DataFrame]:
    """pages: the engine's pages table. Returns the dictionary-encoded
    tables (see module docstring for the vector semantics)."""
    # ---- redirects map (processed.rs:47-67) -----------------------------
    redirects = (pages
                 .where(F.col("redirects_to").isNotNull()
                        & _http_scheme(F.col("redirects_to")))
                 .select(F.col("page_id").alias("src_pid"),
                         page_id_udf(F.col("redirects_to")).alias("dst_pid")))
    redirects = redirects.localCheckpoint(eager=True)

    # ---- exploded buttons -------------------------------------------------
    btn = (pages.select("page_id", F.explode("buttons").alias("b"))
           .select("page_id",
                   F.col("b.ord").alias("ord"),
                   F.col("b.hash").alias("hash"),
                   F.col("b.file_ext").alias("file_ext"),
                   F.col("b.target").alias("target"),
                   F.col("b.alt").alias("alt"),
                   F.col("b.title").alias("title"),
                   F.col("b.source").alias("source"))
           .withColumn("target_pid",
                       F.when(F.col("target").isNotNull(),
                              page_id_udf(F.col("target"))))
           .withColumn("filename", F.when(
               F.col("source").isNotNull(),
               source_filename_col(
                   F.regexp_replace(
                       F.regexp_replace("source", r"^[a-z][a-z0-9+.-]*://[^/]*",
                                        ""),
                       r"[?#].*$", ""))))
           .localCheckpoint(eager=True))

    # ---- pages dictionary (crawled ∪ button targets ∪ redirect targets) ---
    dict_src = (pages.select(F.col("page_id").alias("pid"))
                .unionByName(btn.where(F.col("target_pid").isNotNull())
                             .select(F.col("target_pid").alias("pid")))
                .unionByName(redirects.select(F.col("dst_pid").alias("pid")))
                .distinct())
    # scalable global ordinals (operators/ranked.py) — a bare
    # Window.orderBy funnels the whole dictionary through ONE partition
    # (the round-1 WindowExec warnings in bench_err.log); the sort keys
    # are unique (distinct pids / hashes / texts) so the range-partitioned
    # rank is byte-identical to the single-partition window
    host, path = _split_pid(F.col("pid"))
    dict_pages = (global_row_number(
        dict_src.withColumn("sort_host", host).withColumn("sort_path", path),
        ["sort_host", "sort_path"], "rn1")
        .select((F.col("rn1") - 1).cast("int").alias("page_idx"),
                F.col("pid").alias("page_id"))
        .localCheckpoint(eager=True))

    # ---- buttons dictionary + file_exts (processed.rs:71-79,98-101) -------
    # reference ext choice is HashMap-iteration last-wins (nondeterministic);
    # canonical: max(file_ext) per hash
    dict_buttons = (global_row_number(
        btn.groupBy("hash").agg(F.max("file_ext").alias("file_ext")),
        ["hash"], "rn1")
        .select((F.col("rn1") - 1).cast("int").alias("button_idx"),
                "hash", "file_ext")
        .localCheckpoint(eager=True))

    # ---- texts dictionary (alt ∪ title ∪ source_filename) -----------------
    texts_src = (btn.where(F.col("alt").isNotNull()).select(F.col("alt").alias("text"))
                 .unionByName(btn.where(F.col("title").isNotNull())
                              .select(F.col("title").alias("text")))
                 .unionByName(btn.where(F.col("filename").isNotNull())
                              .select(F.col("filename").alias("text")))
                 .distinct())
    dict_texts = (global_row_number(texts_src, ["text"], "rn1")
                  .select((F.col("rn1") - 1).cast("int").alias("text_idx"),
                          "text")
                  .localCheckpoint(eager=True))

    # ---- one-hop redirect resolution of source + target pids --------------
    res_src = redirects.select(F.col("src_pid").alias("page_id"),
                               F.col("dst_pid").alias("resolved_pid"))
    occ = (btn
           .join(res_src, "page_id", "left")
           .withColumn("src_resolved", F.coalesce("resolved_pid", "page_id"))
           .drop("resolved_pid")
           .join(res_src.select(F.col("page_id").alias("target_pid"),
                                F.col("resolved_pid").alias("t_res")),
                 "target_pid", "left")
           .withColumn("tgt_resolved",
                       F.when(F.col("target_pid").isNotNull(),
                              F.coalesce("t_res", "target_pid")))
           .drop("t_res"))

    # canonical cross-page order: (source host, path, ord)
    s_host, s_path = _split_pid(F.col("page_id"))
    occ = (occ.withColumn("s_host", s_host).withColumn("s_path", s_path)
           .join(dict_pages.select(F.col("page_id").alias("src_resolved"),
                                   F.col("page_idx").alias("src_idx")),
                 "src_resolved")
           .join(dict_pages.select(F.col("page_id").alias("tgt_resolved"),
                                   F.col("page_idx").alias("tgt_idx")),
                 "tgt_resolved", "left")
           .join(dict_buttons.select("hash", "button_idx"), "hash")
           .join(dict_texts.select(F.col("text").alias("alt"),
                                   F.col("text_idx").alias("alt_idx")),
                 "alt", "left")
           .join(dict_texts.select(F.col("text").alias("title"),
                                   F.col("text_idx").alias("title_idx")),
                 "title", "left")
           .join(dict_texts.select(F.col("text").alias("filename"),
                                   F.col("text_idx").alias("filename_idx")),
                 "filename", "left")
           .localCheckpoint(eager=True))

    # ---- per-source-page vectors (links, link_buttons, link_button_*) ----
    page_vecs = (occ.groupBy("src_idx").agg(_ordered(
        F.struct(F.col("tgt_idx").alias("link"),
                 F.col("button_idx").alias("btn"),
                 F.col("alt_idx").alias("alt"),
                 F.col("title_idx").alias("title"),
                 F.col("filename_idx").alias("fname"))).alias("vs"))
        .select(F.col("src_idx").alias("page_idx"),
                F.transform("vs", lambda v: v["link"]).alias("links"),
                F.transform("vs", lambda v: v["btn"]).alias("link_buttons"),
                F.transform("vs", lambda v: v["alt"]).alias("link_button_alts"),
                F.transform("vs", lambda v: v["title"]).alias("link_button_titles"),
                F.transform("vs", lambda v: v["fname"]).alias("link_button_filenames")))

    # ---- per-target vectors (backlinks, backlink_buttons) -----------------
    linked = occ.where(F.col("tgt_idx").isNotNull())
    back_vecs = (linked.groupBy("tgt_idx").agg(_ordered(
        F.struct(F.col("src_idx").alias("src"),
                 F.col("button_idx").alias("btn"))).alias("vs"))
        .select(F.col("tgt_idx").alias("page_idx"),
                F.transform("vs", lambda v: v["src"]).alias("backlinks"),
                F.transform("vs", lambda v: v["btn"]).alias("backlink_buttons")))

    # ---- per-button vectors (names, links, backlinks) ----------------------
    # names: alt, title, filename per occurrence in canonical order
    # (processed.rs:183-191); links only for targeted occurrences
    names = occ.groupBy("button_idx").agg(F.flatten(F.transform(
        _ordered(F.array("alt_idx", "title_idx", "filename_idx")),
        lambda v: F.filter(v, lambda x: x.isNotNull()))).alias("names"))
    b_links = linked.groupBy("button_idx").agg(
        _ordered(F.col("tgt_idx")).alias("links"))
    b_backlinks = occ.groupBy("button_idx").agg(
        _ordered(F.col("src_idx")).alias("backlinks"))
    button_vecs = (dict_buttons
                   .join(names, "button_idx", "left")
                   .join(b_links, "button_idx", "left")
                   .join(b_backlinks, "button_idx", "left")
                   .select("button_idx", "hash", "file_ext",
                           F.coalesce("names", F.array().cast("array<long>"))
                           .alias("names"),
                           F.coalesce("links", F.array().cast("array<long>"))
                           .alias("links"),
                           F.coalesce("backlinks",
                                      F.array().cast("array<long>"))
                           .alias("backlinks")))

    return {
        "pages": dict_pages,
        "buttons": button_vecs,
        "texts": dict_texts,
        "page_vectors": page_vecs,
        "backlink_vectors": back_vecs,
    }


def _iter_sorted(df: DataFrame, idx_col: str):
    """Stream rows in ``idx_col`` order without a full driver collect —
    ``toLocalIterator`` pulls one (range-)partition at a time, so driver
    memory is bounded by a partition, not the table."""
    return df.orderBy(idx_col).toLocalIterator(prefetchPartitions=True)


def save_processed(spark: SparkSession, pages: DataFrame, out_dir: str,
                   return_data: bool = True) -> dict | None:
    """S4 — assemble the reference's exact JSON shape and write 88x31.json,
    88x31.cbor + stats.json atomically (.bak + rename, processed.rs:222-239);
    the DataFrames are also written as parquet — the scale-safe artifact.

    The single-file JSON/CBOR funnel is inherent to the reference's format,
    but the assembly is fully streaming: each field is emitted element-by-
    element straight into the file from a ``toLocalIterator`` over the
    just-written parquet (one cheap column-pruned scan per field), so peak
    driver memory is one partition — no O(n_pages) dense lists. The byte
    output is identical to ``json.dumps``/``cbor.dumps`` of the full dict
    (default separators; definite-length CBOR heads), which the export
    parity test verifies against an independent decoder.

    ``return_data=False`` is the production mode (nothing table-sized is
    ever held); ``True`` additionally materializes the dict for the
    golden-twin comparison tests."""
    t = build_processed(spark, pages)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in t.items():
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))

    def tbl(name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(out_dir, name))

    n_pages = tbl("pages").count()
    n_buttons = tbl("buttons").count()
    n_texts = tbl("texts").count()

    def col_iter(name, idx, field, is_list):
        def it():
            for r in _iter_sorted(tbl(name).select(idx, field), idx):
                yield list(r[field]) if is_list else r[field]
        return it

    def dense_iter(name, idx, field):
        """Sparse (idx → vector) stream → dense stream with [] gaps."""
        def it():
            i = 0
            for r in _iter_sorted(tbl(name).select(idx, field), idx):
                while i < r[idx]:
                    yield []
                    i += 1
                yield list(r[field])
                i += 1
            while i < n_pages:
                yield []
                i += 1
        return it

    fields = [
        ("pages", n_pages, col_iter("pages", "page_idx", "page_id", False)),
        ("buttons", n_buttons,
         col_iter("buttons", "button_idx", "hash", False)),
        ("texts", n_texts, col_iter("texts", "text_idx", "text", False)),
        ("button_file_exts", n_buttons,
         col_iter("buttons", "button_idx", "file_ext", False)),
        ("button_names", n_buttons,
         col_iter("buttons", "button_idx", "names", True)),
        ("button_links", n_buttons,
         col_iter("buttons", "button_idx", "links", True)),
        ("button_backlinks", n_buttons,
         col_iter("buttons", "button_idx", "backlinks", True)),
        ("links", n_pages, dense_iter("page_vectors", "page_idx", "links")),
        ("link_buttons", n_pages,
         dense_iter("page_vectors", "page_idx", "link_buttons")),
        ("link_button_alts", n_pages,
         dense_iter("page_vectors", "page_idx", "link_button_alts")),
        ("link_button_titles", n_pages,
         dense_iter("page_vectors", "page_idx", "link_button_titles")),
        ("link_button_filenames", n_pages,
         dense_iter("page_vectors", "page_idx", "link_button_filenames")),
        ("backlinks", n_pages,
         dense_iter("backlink_vectors", "page_idx", "backlinks")),
        ("backlink_buttons", n_pages,
         dense_iter("backlink_vectors", "page_idx", "backlink_buttons")),
    ]

    def _atomic_stream(name: str, write_body) -> None:
        tmp = os.path.join(out_dir, name + ".bak")
        with open(tmp, "wb") as f:
            write_body(f)
        os.replace(tmp, os.path.join(out_dir, name))

    def _json_body(f) -> None:  # byte-identical to json.dumps(data)
        f.write(b"{")
        for i, (name, _cnt, itf) in enumerate(fields):
            if i:
                f.write(b", ")
            f.write(json.dumps(name).encode() + b": [")
            for j, v in enumerate(itf()):
                if j:
                    f.write(b", ")
                f.write(json.dumps(v).encode())
            f.write(b"]")
        f.write(b"}")

    def _cbor_body(f) -> None:  # byte-identical to cbor.dumps(data)
        f.write(cbor._head(5, len(fields)))
        for name, cnt, itf in fields:
            f.write(cbor.dumps(name))
            f.write(cbor._head(4, cnt))
            for v in itf():
                f.write(cbor.dumps(v))

    _atomic_stream("88x31.json", _json_body)
    _atomic_stream("88x31.cbor", _cbor_body)
    _atomic_stream("stats.json", lambda f: f.write(
        json.dumps({"buttons": n_buttons}).encode("utf-8")))
    if not return_data:
        return None
    return {name: list(itf()) for name, _cnt, itf in fields}


# ---------------------------------------------------------------------------
# Pure-Python twin (the golden oracle for the export)
# ---------------------------------------------------------------------------

def process_pages_python(pages: dict) -> dict:
    """Same semantics over the golden model's pages dict
    (page_id → PageRecord). Mirrors processed.rs:46-215 with the two
    canonical pins documented above."""
    redirects: dict[str, str] = {}
    page_set = set(pages.keys())
    for pid, page in pages.items():
        for b in page.buttons:
            if b.target is not None:
                page_set.add(page_id_of(b.target))
        if page.redirects_to is not None:
            u = Url.parse(page.redirects_to)
            if u is None or u.scheme not in ("http", "https"):
                continue
            tgt = page_id_of(page.redirects_to)
            redirects[pid] = tgt
            page_set.add(tgt)

    def sort_key(pid: str):
        return tuple(pid.split("/", 1)) if "/" in pid else (pid, "")

    dict_pages = sorted(page_set, key=sort_key)
    page_index = {p: i for i, p in enumerate(dict_pages)}

    hashes = set()
    ext_by_hash: dict[str, str] = {}
    texts = set()
    for pid in sorted(pages, key=sort_key):
        for b in pages[pid].buttons:
            hashes.add(b.hash)
            prev = ext_by_hash.get(b.hash)
            ext_by_hash[b.hash] = b.file_ext if prev is None \
                else max(prev, b.file_ext)
            if b.title:
                texts.add(b.title)
            if b.alt:
                texts.add(b.alt)
            fn = source_filename(b.source)
            if fn is not None:
                texts.add(fn)
    dict_buttons = sorted(hashes)
    button_index = {h: i for i, h in enumerate(dict_buttons)}
    dict_texts = sorted(texts)
    text_index = {t: i for i, t in enumerate(dict_texts)}

    def resolve(pid: str) -> str:
        # one-hop (see module docstring); self-loops stay put
        return redirects.get(pid, pid)

    n_p, n_b = len(dict_pages), len(dict_buttons)
    out = {
        "pages": dict_pages, "buttons": dict_buttons, "texts": dict_texts,
        "button_file_exts": [ext_by_hash[h] for h in dict_buttons],
        "button_names": [[] for _ in range(n_b)],
        "button_links": [[] for _ in range(n_b)],
        "button_backlinks": [[] for _ in range(n_b)],
        "links": [[] for _ in range(n_p)],
        "link_buttons": [[] for _ in range(n_p)],
        "link_button_alts": [[] for _ in range(n_p)],
        "link_button_titles": [[] for _ in range(n_p)],
        "link_button_filenames": [[] for _ in range(n_p)],
        "backlinks": [[] for _ in range(n_p)],
        "backlink_buttons": [[] for _ in range(n_p)],
    }
    for pid in sorted(pages, key=sort_key):  # canonical iteration order
        page = pages[pid]
        src_idx = page_index[resolve(pid)]
        for b in page.buttons:
            b_idx = button_index[b.hash]
            if b.target is not None:
                link_idx = page_index[resolve(page_id_of(b.target))]
                out["links"][src_idx].append(link_idx)
                out["backlinks"][link_idx].append(src_idx)
                out["backlink_buttons"][link_idx].append(b_idx)
                out["button_links"][b_idx].append(link_idx)
            else:
                out["links"][src_idx].append(None)
            out["link_buttons"][src_idx].append(b_idx)
            alt_i = text_index.get(b.alt) if b.alt else None
            title_i = text_index.get(b.title) if b.title else None
            fn = source_filename(b.source)
            fn_i = text_index.get(fn) if fn is not None else None
            out["link_button_alts"][src_idx].append(alt_i)
            out["link_button_titles"][src_idx].append(title_i)
            out["link_button_filenames"][src_idx].append(fn_i)
            for v in (alt_i, title_i, fn_i):
                if v is not None:
                    out["button_names"][b_idx].append(v)
            out["button_backlinks"][b_idx].append(src_idx)
    return out
