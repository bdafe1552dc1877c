"""Seeded benchmark inputs, generated once per (scale factor, seed).

Tables come from ``scripts/gen_sf.py``'s ``generate(sf, outdir, seed)``,
imported unchanged.  The medallion workload's raw CSV pair is derived
from the generated ``orders`` and ``part`` tables with the same value
rules as ``plans/books_csv_queries.py`` (ratings keyed on orders,
details keyed on ``p_partkey % 1500``), so it carries the same dirty
rows the reference's cleaning notebooks exist to repair.

Everything lands in a cache directory keyed by (sf, seed); the program
under test only ever receives the resulting paths.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

RATINGS_CSV = "Books_rating.csv"
DETAILS_CSV = "books_data.csv"


def _gen_sf_module(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_sf", root / "scripts" / "gen_sf.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sf_tag(sf: float) -> str:
    return f"sf{sf:g}"


def tables_dir(cache: Path, sf: float, seed: int) -> Path:
    return cache / f"seed{seed}" / _sf_tag(sf)


def csv_dir(cache: Path, sf: float, seed: int) -> Path:
    return cache / f"seed{seed}" / f"csv_{_sf_tag(sf)}"


def ensure_tables(root: Path, cache: Path, sf: float, seed: int) -> Path:
    """Generate the parquet tables for (sf, seed) unless cached."""
    out = tables_dir(cache, sf, seed)
    if (out / ".done").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        _gen_sf_module(root).generate(sf, tmp, seed)
    (tmp / ".done").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def _concat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _s(arr) -> pa.Array:
    return pc.cast(pa.array(arr), pa.string())


def _where(mask, when_true, otherwise) -> pa.Array:
    return pc.if_else(pa.array(mask), when_true, otherwise)


def _ratings_raw(orders: pa.Table) -> pa.Table:
    """Raw ``Books_rating.csv`` rows, one per order (BR's input shape)."""
    ok = orders["o_orderkey"].to_numpy()
    ck = orders["o_custkey"].to_numpy()
    n = len(ok)
    null = pa.nulls(n, pa.string())
    price = _s(orders["o_totalprice"].to_numpy())
    helpful = _concat(_s(ok % 7), pa.array(["/"] * n), _s(ok % 12))
    score = _where(ok % 10 == 0, pa.array(["bad"] * n),
                   _where(ok % 10 == 1, null, _s(ok % 5 + 1)))
    return pa.table({
        "Id": _s(ok),
        "Title": _concat(pa.array(["Book_"] * n), _s(ck % 97)),
        "Price": _where(ok % 5 == 0, null, price),
        "User_id": _concat(pa.array(["U"] * n), _s(ck)),
        "profileName": _where(ok % 11 == 0, null,
                              _concat(pa.array(["profile_"] * n), _s(ck))),
        "review/helpfulness": _where(ok % 13 == 0, pa.array(["unknown"] * n), helpful),
        "review/score": score,
        "review/time": _s((ok % 20000) * 86400),
        "review/summary": _concat(pa.array(["summary_"] * n), _s(ok)),
        "review/text": _where(ok % 17 == 0, null,
                              _concat(pa.array(["text_"] * n), _s(ok))),
    })


def _details_raw(part: pa.Table) -> pa.Table:
    """Raw ``books_data.csv`` rows keyed on ``p_partkey % 1500`` (BD's
    input shape: duplicate keys give fully duplicate raw rows)."""
    k = part["p_partkey"].to_numpy().astype(np.int64) % 1500
    n = len(k)
    null = pa.nulls(n, pa.string())
    ks = _s(k)

    def lit(text: str) -> pa.Array:
        return pa.array([text] * n)

    return pa.table({
        "title": _concat(lit("Book_"), ks),
        "description": _concat(lit("desc_"), ks),
        "authors": _concat(lit("['Author_"), _s(k % 7), lit("', 'Author_"),
                           _s(k % 5), lit("']")),
        "image": _where(k % 19 == 0, null, _concat(lit("http://img/"), ks)),
        "previewLink": _concat(lit("http://preview/"), ks),
        "publisher": _concat(lit("Publisher_"), _s(k % 13)),
        "publishedDate": _where(k % 23 == 0, lit("unknown"), _s(1980 + k % 40)),
        "infoLink": _where(k % 17 == 0, _concat(lit("ftp://info/"), ks),
                           _concat(lit("http://info/"), ks)),
        "categories": _concat(lit("['Cat_"), _s(k % 11), lit("']")),
        "ratingsCount": _where(k % 29 == 0, lit("many"), _s(k % 1000)),
    })


def ensure_csv_pair(root: Path, cache: Path, sf: float, seed: int) -> tuple[str, str]:
    """Return (books_csv, ratings_csv) derived from the (sf, seed) tables."""
    out = csv_dir(cache, sf, seed)
    if not (out / ".done").exists():
        src = ensure_tables(root, cache, sf, seed)
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        orders = pq.read_table(src / "orders.parquet", columns=[
            "o_orderkey", "o_custkey", "o_totalprice"])
        part = pq.read_table(src / "part.parquet", columns=["p_partkey"])
        pacsv.write_csv(_ratings_raw(orders), out / RATINGS_CSV)
        pacsv.write_csv(_details_raw(part), out / DETAILS_CSV)
        (out / ".done").touch()
    return str(out / DETAILS_CSV), str(out / RATINGS_CSV)
