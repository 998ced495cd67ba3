"""Seeded benchmark inputs and their expected outputs.

Everything here is plain Python, numpy and pyarrow. Nothing imports the
engine package: the expected published events, replay lines and fact
rows are computed independently of the code under test, so a mismatch
is a finding about the engine, not a restatement of it.

Inputs, all derived from one integer seed:

- ``dimension``: ~500k lemma rows (~400k distinct lemmata, ~20 % of them
  homographs with 2-3 rows), written as parquet with the engine's
  DIMENSION schema. Production-sized on purpose: the live pipeline
  rebuilds the dimension broadcast on every micro-batch, and with the
  1k-row dimension of ``scripts/stream_bench.py`` that per-batch build
  is a few milliseconds, so a change to it cannot show.
- ``access log``: Apache combined-log lines mixing every FIXTURES.md §1
  keep/drop case at the fixed shares in ``LINE_MIX``, with Zipf lemma
  popularity over the dimension and a share of lemmata absent from it.
- ``backlog``: wire-format JSONL lines (the live server's output
  format) for the collector, with malformed lines and over-long lemmata.
- ``inventory tables``: the ten TPC-H-ish tables the query registry
  reads, with the same schemas and value domains as the repo's testdata
  (TESTDATA.md).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
LOG_TZ = dt.timezone(dt.timedelta(hours=1))  # the log is written in CET
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()

# ---------------------------------------------------------------------
# dimension

N_LEMMATA = 400_000
HOMOGRAPH_SHARE = 0.2
MISS_SHARE = 0.08  # kept requests whose lemma is not in the dimension
ZIPF_S = 1.0

_SYLLABLES = (
    "ab an be bo da de di el en er fa ge ha he in ka ke la le li ma me mi "
    "na ne no or ra re ri sa se si ta te ti un ve wa ze zu ü ö ä ß sch "
    "ch st"
).split()
LEMMA_TYPES = ("AR_G", "AR_V", "AR_A", "AR_ADV")
FORM_TYPES = ("Hauptform", "Nebenform", "Nebenform_Orth")
ARTICLE_TYPES = ("Vollartikel", "Basisartikel-D", "Minimalartikel", "Verweisartikel")
STATUSES = ("Red-f", "Red-2", "Red-0")
SOURCES = ("WDG", "ZDL", "DWDS", "Duden_1999")


def _lemma(code: int, capital: bool) -> str:
    parts = []
    for _ in range(4):
        code, d = divmod(code, len(_SYLLABLES))
        parts.append(_SYLLABLES[d])
    s = "".join(parts)
    return s[0].upper() + s[1:] if capital else s


def _lemmata(rng: np.random.Generator, n: int, offset: int) -> list[str]:
    """``n`` distinct lemma strings; ``offset`` separates namespaces."""
    codes = rng.permutation(len(_SYLLABLES) ** 4 // 2)[: n * 2] + offset
    caps = rng.random(len(codes)) < 0.5
    out: dict[str, None] = {}
    for c, cap in zip(codes.tolist(), caps.tolist()):
        out.setdefault(_lemma(c, cap))
        if len(out) == n:
            break
    return list(out)


class Dimension:
    """The dimension rows and, per lemma, the expected surviving row
    (argmin of hidx with null counting as 0)."""

    def __init__(self, seed: int, n_lemmata: int = N_LEMMATA):
        rng = np.random.default_rng([seed, 1])
        half = len(_SYLLABLES) ** 4 // 2
        self.lemmata = _lemmata(rng, n_lemmata, 0)
        known = set(self.lemmata)
        self.misses = [m for m in _lemmata(rng, 20_000, half) if m not in known]
        n = len(self.lemmata)
        homograph = rng.random(n) < HOMOGRAPH_SHARE
        n_rows = np.where(homograph, rng.integers(2, 4, n), 1)
        # a single-row lemma has hidx null; a homograph group has hidx
        # 1..k, and a third of the groups replace hidx 1 by null (which
        # ranks as 0 and must win the argmin)
        null_first = homograph & (rng.random(n) < 1 / 3)
        lemma_idx = np.repeat(np.arange(n), n_rows)
        within = np.arange(len(lemma_idx)) - np.repeat(np.cumsum(n_rows) - n_rows, n_rows)
        hidx = (within + 1).astype(np.int64)
        null_hidx = ~homograph[lemma_idx] | (null_first[lemma_idx] & (within == 0))
        m = len(lemma_idx)
        self.rows = {
            "lemma_idx": lemma_idx,
            "hidx": np.where(null_hidx, -1, hidx),
            "lemma_type": rng.integers(0, len(LEMMA_TYPES), m),
            "form_type": rng.integers(0, len(FORM_TYPES), m),
            "article_type": rng.integers(0, len(ARTICLE_TYPES), m),
            "status": rng.integers(0, len(STATUSES), m),
            "source": rng.integers(0, len(SOURCES), m),
            "date": rng.integers(
                dt.date(1990, 1, 1).toordinal(), dt.date(2024, 12, 31).toordinal(), m
            ),
        }
        # rows are written shuffled so the dedup cannot lean on order
        self.order = rng.permutation(m)
        # the winner per lemma: hidx rank is unique inside a group
        rank = np.where(null_hidx, 0, hidx)
        first = np.lexsort((rank, lemma_idx))
        starts = np.r_[0, np.flatnonzero(np.diff(lemma_idx[first])) + 1]
        self.winner = first[starts]  # row index per lemma index
        self.n_rows = m
        # Zipf popularity over a seeded permutation of the lemmata
        self.popularity = rng.permutation(n)
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.zipf_cdf = np.cumsum(w) / w.sum()

    def write_parquet(self, path: str) -> None:
        r = self.rows
        o = self.order
        lem = np.array(self.lemmata, dtype=object)[r["lemma_idx"][o]]
        hidx = r["hidx"][o]
        table = pa.table(
            {
                "lemma": pa.array(lem, pa.string()),
                "hidx": pa.array(hidx, pa.int32(), mask=hidx < 0),
                "lemma_type": pa.array(np.array(LEMMA_TYPES)[r["lemma_type"][o]]),
                "form_type": pa.array(np.array(FORM_TYPES)[r["form_type"][o]]),
                "article_type": pa.array(np.array(ARTICLE_TYPES)[r["article_type"][o]]),
                "status": pa.array(np.array(STATUSES)[r["status"][o]]),
                "source": pa.array(np.array(SOURCES)[r["source"][o]]),
                "date": pa.array(
                    (r["date"][o] - dt.date(1970, 1, 1).toordinal()).astype(np.int32),
                    pa.date32(),
                ),
            }
        )
        pq.write_table(table, path)

    def metadata(self, lemma_idx: int) -> dict:
        """Expected enrichment columns of a dimension hit, wire-typed."""
        r, i = self.rows, self.winner[lemma_idx]
        out = {}
        if r["hidx"][i] >= 0:
            out["hidx"] = int(r["hidx"][i])
        out["lemma_type"] = LEMMA_TYPES[r["lemma_type"][i]]
        out["form_type"] = FORM_TYPES[r["form_type"][i]]
        out["article_type"] = ARTICLE_TYPES[r["article_type"][i]]
        out["status"] = STATUSES[r["status"][i]]
        out["source"] = SOURCES[r["source"][i]]
        out["date"] = dt.date.fromordinal(int(r["date"][i])).isoformat()
        return out

    def sample(self, rng: np.random.Generator, n: int) -> list[tuple[str, int]]:
        """``n`` requested lemmata as (lemma, lemma index or -1 for a
        dimension miss)."""
        ranks = np.searchsorted(self.zipf_cdf, rng.random(n), side="right")
        idx = self.popularity[np.minimum(ranks, len(self.popularity) - 1)]
        miss = rng.random(n) < MISS_SHARE
        miss_pick = rng.integers(0, len(self.misses), n)
        return [
            (self.misses[m], -1) if is_miss else (self.lemmata[i], int(i))
            for i, is_miss, m in zip(idx.tolist(), miss.tolist(), miss_pick.tolist())
        ]


# ---------------------------------------------------------------------
# access log

HUMAN_UAS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 9; Mediascope cubot) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36",
)
BOT_UAS = (
    "python-requests/2.31.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "curl/8.4.0",
    "Somebot/1.0",
)
REFERRERS = ("-", "https://www.google.com/", "https://www.dwds.de/")
LEGACY = ("dwb", "dwb2", "etymwb", "wdg", "index", "W%C3%B6rterbuch")

# line kind -> share of all raw lines. "kept" lines carry a valid lemma;
# every other kind is one FIXTURES.md §1 drop case.
LINE_MIX = {
    "kept": 0.76,
    "kept_query_string": 0.04,  # /wb/<lemma>?o=.. -> query string stripped
    "non_wb": 0.05,
    "typeahead": 0.025,
    "non_200": 0.03,
    "bot": 0.04,
    "post": 0.005,
    "empty_lemma": 0.005,
    "bracket_lemma": 0.005,
    "multi_segment": 0.01,
    "legacy": 0.01,
    "bad_escape": 0.005,
    "malformed": 0.01,
}
KEPT_KINDS = ("kept", "kept_query_string")


def _apache_ts(epoch: int) -> str:
    t = dt.datetime.fromtimestamp(epoch, LOG_TZ)
    return f"{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0100"


def iso_utc(epoch: int) -> str:
    return dt.datetime.fromtimestamp(epoch, UTC).strftime("%Y-%m-%dT%H:%M:%SZ")


def base_epoch(seed: int) -> int:
    """Logical start time of a seed's traffic (whole seconds)."""
    day = dt.datetime(2024, 1, 1, 8, tzinfo=UTC) + dt.timedelta(days=seed % 300)
    return int(day.timestamp())


class LogTraffic:
    """Raw access-log lines at a fixed rate, with the expected events.

    ``lines[i]`` is due ``i / rate`` seconds after the start and carries
    the logical timestamp ``base + floor(i / rate)``. ``expected[i]`` is
    the enriched event (wire-typed dict) the line must produce, or None
    for a dropped line.
    """

    def __init__(self, dim: Dimension, seed: int, n: int, rate: float, stream: int):
        rng = np.random.default_rng([seed, 2, stream])
        kinds = list(LINE_MIX)
        p = np.array([LINE_MIX[k] for k in kinds])
        kind_idx = rng.choice(len(kinds), size=n, p=p / p.sum())
        picks = dim.sample(rng, n)
        ua = rng.integers(0, len(HUMAN_UAS), n)
        bot = rng.integers(0, len(BOT_UAS), n)
        ref = rng.integers(0, len(REFERRERS), n)
        size = rng.integers(200, 90_000, n)
        ip = rng.integers(1, 255, (n, 4))
        alt = rng.integers(0, 1 << 30, n)
        t0 = base_epoch(seed) + stream * 86_400
        self.rate = rate
        self.kinds = [kinds[k] for k in kind_idx.tolist()]
        self.lines: list[str] = []
        self.expected: list[dict | None] = []
        for i in range(n):
            kind = self.kinds[i]
            lemma, li = picks[i]
            epoch = t0 + int(i // rate)
            uri, status, agent = "/wb/" + quote(lemma, safe=""), 200, HUMAN_UAS[ua[i]]
            method = "GET"
            a = int(alt[i])
            if kind == "kept_query_string":
                uri += f"?o={a % 97}"
            elif kind == "non_wb":
                uri = ("/static/css/main.css", f"/r/?q={quote(lemma)}", "/", "/api/lemma")[a % 4]
            elif kind == "typeahead":
                uri = f"/wb/typeahead?q={quote(lemma[:3])}"
            elif kind == "non_200":
                status = (404, 304, 301, 500)[a % 4]
            elif kind == "bot":
                agent = BOT_UAS[bot[i]]
            elif kind == "post":
                method = "POST"
            elif kind == "empty_lemma":
                uri = "/wb/"
            elif kind == "bracket_lemma":
                uri = ("/wb/%5B" + quote(lemma) + "%5D", "/wb/[" + quote(lemma) + "]")[a % 2]
            elif kind == "multi_segment":
                uri += "/" + quote(dim.lemmata[a % len(dim.lemmata)])
            elif kind == "legacy":
                uri = "/wb/" + LEGACY[a % len(LEGACY)]
            elif kind == "bad_escape":
                uri += "%ZZ"
            line = (
                f'{ip[i, 0]}.{ip[i, 1]}.{ip[i, 2]}.{ip[i, 3]} - - [{_apache_ts(epoch)}] '
                f'"{method} {uri} HTTP/1.1" {status} {size[i]} '
                f'"{REFERRERS[ref[i]]}" "{agent}"'
            )
            if kind == "malformed":  # status field is not three digits
                line = line.replace(f'HTTP/1.1" {status} ', 'HTTP/1.1" - ', 1)
            self.lines.append(line)
            if kind in KEPT_KINDS:
                ev = {"timestamp": iso_utc(epoch), "lemma": lemma}
                if li >= 0:
                    ev.update(dim.metadata(li))
                self.expected.append(ev)
            else:
                self.expected.append(None)


def event_key(ev: dict) -> tuple:
    """Hashable identity of a wire event (all fields)."""
    return tuple(sorted(ev.items()))


def edn_line(ev: dict) -> str:
    """The replay CLI's EDN rendering of one event (key order fixed,
    absent keys omitted, strings quoted and escaped)."""

    def s(v: str) -> str:
        for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\t", "\\t"),
                     ("\r", "\\r"), ("\f", "\\f"), ("\b", "\\b")):
            v = v.replace(a, b)
        return f'"{v}"'

    parts = []
    for k in ("timestamp", "lemma", "hidx", "lemma_type", "form_type",
              "article_type", "status", "source", "date"):
        if k in ev:
            v = ev[k]
            parts.append(f":{k.replace('_', '-')} " + (str(v) if k == "hidx" else s(v)))
    return "{" + ", ".join(parts) + "}"


# ---------------------------------------------------------------------
# collector backlog

MALFORMED_SHARE = 0.01
LONG_LEMMA_SHARE = 0.005
MAX_LEMMA_LEN = 128  # fact-table VARCHAR(128): rows with len >= 128 drop
_MALFORMED = (
    "not json at all",
    '{"timestamp": "2024-01-01T00:00:00Z", "lemma": ',
    '{"lemma": "Haus"}',
    '{"timestamp": "2024-01-01T00:00:00Z"}',
    "[1, 2, 3]",
)


class Backlog:
    """JSONL wire lines for the collector plus the expected fact rows
    (ts epoch, lemma or lemma#hidx, article_type, article_source,
    article_date). ``copies`` writes the ``n`` generated lines that many
    times (as repeated events), so the collector gets more rows than
    are worth generating line by line here."""

    def __init__(self, dim: Dimension, seed: int, n: int, copies: int = 1, days: int = 3):
        self.copies = copies
        rng = np.random.default_rng([seed, 3])
        picks = dim.sample(rng, n)
        t0 = base_epoch(seed) - days * 86_400
        epochs = np.sort(t0 + rng.integers(0, days * 86_400, n))
        kind = rng.random(n)
        long_len = rng.integers(MAX_LEMMA_LEN - 3, MAX_LEMMA_LEN + 8, n)
        self.lines: list[str] = []
        self.rows: list[tuple] = []
        self.n_malformed = 0
        for i in range(n):
            if kind[i] < MALFORMED_SHARE:
                self.lines.append(_MALFORMED[i % len(_MALFORMED)])
                self.n_malformed += 1
                continue
            lemma, li = picks[i]
            if kind[i] < MALFORMED_SHARE + LONG_LEMMA_SHARE:
                lemma = (lemma * 40)[: int(long_len[i])]
                li = -1
            ev = {"timestamp": iso_utc(int(epochs[i])), "lemma": lemma}
            if li >= 0:
                ev.update(dim.metadata(li))
            self.lines.append(json.dumps(ev, ensure_ascii=False, separators=(",", ":")))
            enc = f"{lemma}#{ev['hidx']}" if "hidx" in ev else lemma
            if len(enc) < MAX_LEMMA_LEN:
                self.rows.append(
                    (int(epochs[i]), enc, ev.get("article_type"), ev.get("source"), ev.get("date"))
                )

    def write(self, directory: str, n_files: int) -> None:
        """``n_files`` files per copy. Each further copy of a file is a
        hard link to the first: a file of its own to the collector, the
        same bytes on disk. ``file_lines`` maps each file's name to its
        line count."""
        os.makedirs(directory, exist_ok=True)
        self.file_lines = {}
        for f, chunk in enumerate(np.array_split(np.arange(len(self.lines)), n_files)):
            first = os.path.join(directory, f"part-00-{f:03d}.jsonl")
            with open(first, "w", encoding="utf-8") as fh:
                fh.write("".join(self.lines[i] + "\n" for i in chunk.tolist()))
            for c in range(self.copies):
                name = f"part-{c:02d}-{f:03d}.jsonl"
                if c:
                    os.link(first, os.path.join(directory, name))
                self.file_lines[name] = len(chunk)

    @property
    def n_lines(self) -> int:
        return len(self.lines) * self.copies

    def expected_rows(self) -> Counter:
        return Counter({row: k * self.copies for row, k in Counter(self.rows).items()})


# ---------------------------------------------------------------------
# query-inventory tables (same schemas and value domains as the repo's
# testdata at sf0.01)

_WORDS = (
    "row the query stream fast spark line small customer group key agg scan "
    "slow table part a merge window order column join vector value hash "
    "batch sort data big filter"
).split()
_ADJ = "blue hot small old red new cold large".split()
_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()


def _ts_us(rng, n, lo: dt.datetime, hi: dt.datetime, whole_days: bool) -> pa.Array:
    a, b = int(lo.timestamp()), int(hi.timestamp())
    if whole_days:
        v = (a // 86400 + rng.integers(0, (b - a) // 86400 + 1, n)) * 86400 * 1_000_000
    else:
        v = a * 1_000_000 + rng.integers(0, (b - a) * 1_000_000, n)
    return pa.array(v.astype(np.int64), pa.timestamp("us"))


def write_inventory_tables(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out, exist_ok=True)
    d = dt.datetime

    def w(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    w("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    w("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc, ns, npart, no, nl = 1500, 100, 2000, 15000, 60000
    w("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, nc)],
    })
    w("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    w("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2)).tolist()],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart).tolist()],
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"])[rng.integers(0, 5, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    w("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": _ts_us(rng, no, d(1995, 1, 1), d(2001, 8, 1), True),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)],
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    w("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(rng, nl, d(1995, 1, 2), d(2001, 11, 4), True),
    })
    ne = 10000
    w("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts_us(rng, ne, d(2024, 1, 1), d(2024, 1, 31), False),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[rng.integers(0, 5, ne)],
        "value": np.round(np.clip(rng.gamma(1.0, 50.0, ne), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()],
    })
    nd = 500
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]))
    w("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.choice(5, nd, p=[0.44, 0.14, 0.13, 0.15, 0.14])],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(nd, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": np.arange(nd, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nd), pa.int32()),
    })
