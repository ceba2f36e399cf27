"""Seeded input generators with their own golden rendering.

Everything here is pure Python and never imports the program: the
generator decides each input row, writes the bytes a broker would drop,
and renders independently what the program must answer for that file
under the golden encoder rules (shortest-repr doubles, ISO-8601 ``Z``
timestamps, quoting only when a field holds the delimiter, ``\\"``
escapes). The same seed always gives the same files and the same truth.

Hostile rows follow the program's documented decode semantics:

- ragged rows (too few or too many fields) in AllocData and broker files
  land in the reject channel;
- an unparsable number or boolean in a nullable column decodes to null
  and renders as the empty field; in a required column (broker shares,
  positions qty) it rejects the row;
- embedded delimiters and ``\\"``-escaped quotes inside a quoted field
  round-trip.

Two hostile shapes stay out of the mix on purpose (see README.md):
BOM-prefixed files and ragged Positions rows.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

# Declared entity headers, in declared attribute order (model.ENTITY_SCHEMAS).
# Types: s = string, S = required string, d = double, b = boolean,
# i = int, t = timestamp, T = required timestamp.
ENTITIES: dict[str, list[tuple[str, str]]] = {
    "allocAccount": [
        ("accountID", "S"), ("title", "s"), ("isActive", "b"),
        ("isTaxable", "b"), ("canTrade", "b"), ("strategyID", "s"),
    ],
    "allocAllocation": [
        ("strategyID", "S"), ("assetID", "S"), ("targetPct", "d"),
        ("isLocked", "b"),
    ],
    "allocAsset": [
        ("assetID", "S"), ("title", "s"), ("colorCode", "i"),
        ("parentAssetID", "s"),
    ],
    "allocHolding": [
        ("accountID", "S"), ("securityID", "S"), ("lotID", "S"),
        ("shareCount", "d"), ("shareBasis", "d"), ("acquiredAt", "t"),
    ],
    "allocSecurity": [
        ("securityID", "S"), ("assetID", "s"), ("sharePrice", "d"),
        ("updatedAt", "t"), ("trackerID", "s"),
    ],
    "allocStrategy": [("strategyID", "S"), ("title", "s")],
    "allocTransaction": [
        ("action", "S"), ("transactedAt", "T"), ("accountID", "S"),
        ("securityID", "S"), ("lotID", "s"), ("shareCount", "d"),
        ("sharePrice", "d"), ("realizedGainShort", "d"),
        ("realizedGainLong", "d"), ("txnID", "s"),
    ],
}

BROKER_HEADER = "Date,Action,Symbol,Account,Shares,Price"
POSITIONS_HEADER = "Symbol,Description,Qty,Price,Mkt Val,Cost Basis,Date Acquired"
HOLDING_COLS = [n for n, _ in ENTITIES["allocHolding"]]
TXN_COLS = [n for n, _ in ENTITIES["allocTransaction"]]

WORDS = (
    "alpha beta gamma delta total bond stock market index fund growth "
    "value small large cap intl emerging gold cash reit tips"
).split()
# Strings that must be quoted and/or carry escaped quotes.
HOSTILE_STRINGS = [
    "Smith, Jane", 'say "hi"', 'the "best", fund', "a,b,c", '"quoted"',
]
BAD_NUMBERS = ["n/a", "12.3.4", "abc", "--5"]
BAD_BOOLS = ["maybe", "2", "nope!"]
BAD_INTS = ["1.5", "99999999999", "x7"]

# Share of rows that are hostile, per kind (fixed, so every seed has the
# same mix).
HOSTILE_EVERY = 10  # one row in ten is hostile in drop files
BULK_RAGGED_EVERY = 500  # one row in 500 is ragged in bulk files

EPOCH = dt.datetime(2015, 1, 1)


# ---------------------------------------------------------------- rendering

def render_string(v: str | None, delim: str = ",") -> str:
    if v is None:
        return ""
    esc = v.replace('"', '\\"')
    return f'"{esc}"' if delim in esc else esc


def render_double(v: float | None) -> str:
    return "" if v is None else repr(float(v))


def render_bool(v: bool | None) -> str:
    return "" if v is None else ("true" if v else "false")


def render_ts(v: dt.datetime | None) -> str:
    return "" if v is None else v.strftime("%Y-%m-%dT%H:%M:%SZ")


def csv_field(text: str) -> str:
    """Input-side quoting the program's reader accepts (``\\"`` escapes)."""
    if any(c in text for c in ',"'):
        return '"' + text.replace('"', '\\"') + '"'
    return text


# ---------------------------------------------------------------- values

class _Values:
    """Random field values, each as (input text, golden rendering)."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def word(self) -> str:
        r = self.rng
        return f"{r.choice(WORDS)}{r.randrange(1000)}"

    def double(self) -> tuple[str, str]:
        r = self.rng
        kind = r.randrange(6)
        if kind == 0:
            v = float(r.randrange(1, 5000))
            return str(int(v)), repr(v)  # "12" decodes to 12.0
        if kind == 1:
            v = -round(r.random() / 1000, 5)  # small negative, e.g. -0.00033
        elif kind == 2:
            v = round(r.uniform(0, 1e6), r.randrange(0, 7))
        elif kind == 3:
            v = r.uniform(0, 1000)  # full 17-digit repr
        elif kind == 4:
            v = round(r.random() * 1e-4, 9)  # scientific repr, e.g. 3.3e-05
        else:
            v = round(r.uniform(1, 500), 2)
        return repr(v), repr(v)

    def bool_(self) -> tuple[str, str]:
        v = self.rng.random() < 0.5
        text = self.rng.choice(
            ["true", "TRUE", "1"] if v else ["false", "False", "0"]
        )
        return text, render_bool(v)

    def int_(self) -> tuple[str, str]:
        v = self.rng.randrange(1 << 24)
        return str(v), str(v)

    def ts(self) -> tuple[str, str]:
        r = self.rng
        if r.randrange(4) == 0:  # bare date -> midnight UTC
            d = EPOCH + dt.timedelta(days=r.randrange(3000))
            return d.strftime("%Y-%m-%d"), render_ts(d)
        t = EPOCH + dt.timedelta(seconds=r.randrange(3000 * 86400))
        return render_ts(t), render_ts(t)

    def date(self) -> dt.datetime:
        return EPOCH + dt.timedelta(days=self.rng.randrange(3000))


@dataclass
class DropFile:
    """One generated file plus everything the program must answer for it."""

    name: str
    kind: str  # positions | broker | allocdata | empty | header_only | unknown
    data: bytes
    detect: list[str]
    error: str | None  # expected taxonomy error class name
    expected: str | None  # golden handle_transform output
    rows_in: int
    rows_good: int
    rows_rejected: int
    path: str = ""


def _entity_row(val: _Values, cols, hostile: str | None):
    """-> (input fields, rendered output fields or None when rejected)."""
    r = val.rng
    texts, out = [], []
    for name, typ in cols:
        if typ in "sS":
            v = f"{name[:3]}-{val.word()}"
            texts.append(csv_field(v))
            out.append(render_string(v))
        elif typ == "d":
            t, o = val.double()
            texts.append(t)
            out.append(o)
        elif typ == "b":
            t, o = val.bool_()
            texts.append(t)
            out.append(o)
        elif typ == "i":
            t, o = val.int_()
            texts.append(t)
            out.append(o)
        else:  # t / T
            t, o = val.ts()
            texts.append(t)
            out.append(o)
    if hostile == "quoted":
        opts = [i for i, (_, t) in enumerate(cols) if t in "sS"]
        i = r.choice(opts)
        v = r.choice(HOSTILE_STRINGS)
        texts[i], out[i] = csv_field(v), render_string(v)
    elif hostile == "badvalue":
        opts = [i for i, (_, t) in enumerate(cols) if t in "dbitT"]
        if opts:
            i = r.choice(opts)
            typ = cols[i][1]
            texts[i] = r.choice(
                {"d": BAD_NUMBERS, "b": BAD_BOOLS, "i": BAD_INTS}.get(
                    typ, ["not-a-date", "2021-13-45"]
                )
            )
            if typ == "T":
                out = None  # a required timestamp rejects the row
            else:
                out[i] = ""
    elif hostile == "ragged":
        if r.random() < 0.5 and len(texts) > 1:
            texts = texts[: r.randrange(1, len(texts))]
        else:
            texts = texts + [val.word()]
        out = None
    return texts, out


def _hostile_kind(rng: random.Random, i: int, kinds: list[str]) -> str | None:
    if i % HOSTILE_EVERY != HOSTILE_EVERY - 1:
        return None
    return rng.choice(kinds)


def gen_allocdata(rng: random.Random, name: str, entity: str, n: int) -> DropFile:
    val = _Values(rng)
    cols = ENTITIES[entity]
    header = ",".join(c for c, _ in cols)
    lines, outs, bad = [header], [header], 0
    for i in range(n):
        texts, out = _entity_row(
            val, cols, _hostile_kind(rng, i, ["quoted", "badvalue", "ragged"])
        )
        lines.append(",".join(texts))
        if out is None:
            bad += 1
        else:
            outs.append(",".join(out))
    return DropFile(
        name, "allocdata", ("\n".join(lines) + "\n").encode(),
        [f"allocdata: {entity}: csv"], None, "\n".join(outs) + "\n",
        n, n - bad, bad,
    )


def gen_broker(rng: random.Random, name: str, n: int) -> DropFile:
    val = _Values(rng)
    account = f"acct{rng.randrange(10000)}"
    # (date, symbol, shares) is unique per file: it orders the surrogate
    # txnIDs, so a tie would make the numbering ambiguous
    keys: set[tuple] = set()
    rows, good = [], []
    for i in range(n):
        hostile = _hostile_kind(rng, i, ["quoted", "badvalue", "ragged"])
        while True:
            d = val.date()
            sym = rng.choice(HOSTILE_STRINGS) if hostile == "quoted" else (
                f"S{rng.randrange(400)}"
            )
            shares = float(rng.randrange(-50, 500) or 1)
            if (d, sym, shares) not in keys:
                keys.add((d, sym, shares))
                break
        action = rng.choice(["buy", "sell", "BUY", "Sell"])
        price = round(rng.uniform(1, 900), 2)
        share_text = str(int(shares)) if rng.random() < 0.5 else repr(shares)
        fields = [
            d.strftime("%m/%d/%Y"), action, csv_field(sym), account,
            share_text, repr(price),
        ]
        ok = True
        if hostile == "badvalue":
            if rng.random() < 0.5:
                fields[0] = "13/45/2021"
            else:
                fields[4] = rng.choice(BAD_NUMBERS)
            ok = False
        elif hostile == "ragged":
            fields = fields[: rng.randrange(1, 5)]
            ok = False
        rows.append(",".join(fields))
        if ok:
            good.append((d, sym, shares, action.upper(), price))
    good.sort(key=lambda g: (g[0], g[1].encode(), g[2]))
    outs = [",".join(TXN_COLS)]
    for k, (d, sym, shares, action, price) in enumerate(good, 1):
        outs.append(",".join([
            action, render_ts(d), render_string(account), render_string(sym),
            "", render_double(shares), render_double(price), "", "",
            f"X{d.strftime('%Y%m%d')}{k:05d}",
        ]))
    return DropFile(
        name, "broker",
        ("\n".join([BROKER_HEADER] + rows) + "\n").encode(),
        ["brokertxn: allocTransaction: csv"], None, "\n".join(outs) + "\n",
        n, len(good), n - len(good),
    )


def gen_positions(rng: random.Random, name: str, n: int) -> DropFile:
    val = _Values(rng)
    account = f"{''.join(rng.choice('abcdefgh') for _ in range(4))}-{rng.randrange(10000):04d}"
    title = rng.choice(["Individual Something", "Joint Brokerage", "Roth IRA"])
    lines = [
        '"Positions"', "", f'"{title}{" " * rng.randrange(3, 30)}{account}"',
        POSITIONS_HEADER,
    ]
    outs = [",".join(HOLDING_COLS)]
    bad = 0
    for i in range(n):
        hostile = _hostile_kind(rng, i, ["quoted", "badvalue", "nosymbol"])
        sym = f"P{rng.randrange(100000)}"
        desc = rng.choice(HOSTILE_STRINGS) if hostile == "quoted" else val.word()
        qty = round(rng.uniform(0.5, 900), rng.randrange(0, 4))
        qty_text = repr(qty)
        basis = round(rng.uniform(10, 90000), 2) if rng.random() < 0.9 else None
        d = val.date() if rng.random() < 0.85 else None
        fields = [
            sym, csv_field(desc), qty_text, repr(round(rng.uniform(1, 900), 2)),
            repr(round(rng.uniform(1, 90000), 2)),
            "" if basis is None else repr(basis),
            "" if d is None else d.strftime("%m/%d/%Y"),
        ]
        ok = True
        if hostile == "badvalue":
            fields[2] = rng.choice(BAD_NUMBERS)
            ok = False
        elif hostile == "nosymbol":
            fields[0] = ""
            ok = False
        lines.append(",".join(fields))
        if not ok:
            bad += 1
            continue
        outs.append(",".join([
            render_string(account), render_string(sym), "", render_double(qty),
            "" if basis is None else render_double(basis / qty),
            render_ts(d),
        ]))
    return DropFile(
        name, "positions", ("\r\n".join(lines) + "\r\n").encode(),
        ["positions: allocHolding: csv"], None, "\n".join(outs) + "\n",
        n, n - bad, bad,
    )


# The drop files of one ingest pass: a fixed mix of (kind, entity, rows).
# The seed varies content, hostile-row positions and order, never the
# mix, so every seed carries the same amount of work.
SIZES = [50, 200, 800, 2000]
DROP_MIX: list[tuple[str, str | None, int]] = (
    [("positions", None, 2000), ("broker", None, 2000)]
    + [("allocdata", e, SIZES[i % 4]) for i, e in enumerate(ENTITIES)]
    + [("empty", None, 0), ("header_only", "allocStrategy", 0),
       ("unknown", None, 200)]
)


def gen_drop_pass(rng: random.Random, tag: str) -> list[DropFile]:
    files = []
    for j, (kind, entity, n) in enumerate(DROP_MIX):
        name = f"{tag}_{j:02d}_{kind}.csv"
        if kind == "positions":
            f = gen_positions(rng, name, n)
        elif kind == "broker":
            f = gen_broker(rng, name, n)
        elif kind == "allocdata":
            f = gen_allocdata(rng, name, entity, n)
        elif kind == "empty":
            f = DropFile(name, kind, b"", [], "SourceFormatNotRecognized",
                         None, 0, 0, 0)
        elif kind == "header_only":
            header = ",".join(c for c, _ in ENTITIES[entity])
            f = DropFile(name, kind, (header + "\n").encode(),
                         [f"allocdata: {entity}: csv"], None, header + "\n",
                         0, 0, 0)
        else:  # unrecognized header
            cols = [rng.choice(WORDS) + str(k) for k in range(5)]
            body = [",".join(cols)] + [
                ",".join(str(rng.randrange(1000)) for _ in cols)
                for _ in range(n)
            ]
            f = DropFile(name, kind, ("\n".join(body) + "\n").encode(), [],
                         "SourceFormatNotRecognized", None, n, 0, 0)
        files.append(f)
    rng.shuffle(files)
    return files


def write_drop_files(files: list[DropFile], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for f in files:
        f.path = os.path.join(out_dir, f.name)
        with open(f.path, "wb") as fh:
            fh.write(f.data)


# ---------------------------------------------------------------- bulk

# Row counts per entity for the bulk drop.
BULK_ROWS = {"allocHolding": 25_000}
BULK_PARTS = 3  # part files per entity: one scan task per core


@dataclass
class BulkEntity:
    entity: str
    path: str  # directory of part files, each with its header line
    rows_in: int = 0
    rows_good: int = 0
    rows_rejected: int = 0


def gen_bulk(seed: int, out_dir: str) -> dict[str, BulkEntity]:
    """Write each entity as a directory of header-carrying part files.

    Values are cheap (no golden rendering: the bulk checks are counts and
    stream == batch); one row in BULK_RAGGED_EVERY is ragged and must be
    rejected.
    """
    out: dict[str, BulkEntity] = {}
    for k, (entity, n) in enumerate(BULK_ROWS.items()):
        rng = random.Random(seed * 7919 + k)
        cols = ENTITIES[entity]
        header = ",".join(c for c, _ in cols)
        be = BulkEntity(entity, os.path.join(out_dir, entity), rows_in=n)
        os.makedirs(be.path)
        nparts = BULK_PARTS
        gens = [_bulk_field(rng, name, typ) for name, typ in cols]
        per = -(-n // nparts)
        for p in range(nparts):
            lines = [header]
            for i in range(p * per, min(n, (p + 1) * per)):
                fields = [g(i) for g in gens]
                if i % BULK_RAGGED_EVERY == BULK_RAGGED_EVERY - 1:
                    fields = fields[: len(fields) // 2]
                    be.rows_rejected += 1
                lines.append(",".join(fields))
            with open(os.path.join(be.path, f"part-{p:05d}.csv"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        be.rows_good = n - be.rows_rejected
        out[entity] = be
    return out


def _bulk_field(rng: random.Random, name: str, typ: str):
    base = rng.randrange(1 << 20)
    if typ in "sS":
        pre = name[:3]
        return lambda i: f"{pre}{(base + i * 7919) % 100003}"
    if typ == "d":
        return lambda i: repr(round(((base + i * 104729) % 10_000_019) / 997, 4))
    if typ == "b":
        return lambda i: "true" if (base + i) % 3 else "false"
    if typ == "i":
        return lambda i: str((base + i * 31) % (1 << 24))
    def ts(i: int) -> str:
        t = EPOCH + dt.timedelta(seconds=(base + i * 86_413) % 94_608_000)
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")

    return ts
