"""``lake/table.py::_plan_scan`` without Spark: over random manifests
(per-bucket delta commits of batch winners, compaction passes folding a
bucket into one-pass slices, entries with full, missing, over-cap or
other-identity statistics), the rows of the planned files must resolve to
exactly the rows LWW over the whole table gives, under every combination
of bucket, key-value, ts-window, eq and token rules — after the residual
filters ``read()`` applies."""

from __future__ import annotations

import itertools
from typing import Any, NamedTuple

from hypothesis import Phase, given, settings
from hypothesis import strategies as st

from postgres_to_snowflake_data_pipeline_spark.lake.table import _plan_scan

N_BUCKETS = 3
KEYS = [f"k{i}" for i in range(6)]
VOCAB = ["red", "green", "blue"]
EQ_VALUES = [0, 1]
TS_MAX = 6
TS_ID, EQ_ID, TOK_ID = 7, 5, 6
#: entry statistic flavours: as the writer records them; no stats at all
#: (pre-stats commits); over-cap content (the writer stores no value set
#: and no token index); ts stats recorded for another column identity
#: (a dropped zone column) — with values that would prune wrongly
FLAVOURS = ["full"] * 5 + ["none", "overcap", "ts_other"]


class Row(NamedTuple):
    key: str
    lsn: int
    deleted: bool
    ts: int | None
    eq: int | None
    toks: frozenset


def bucket_of(key: str) -> int:
    return int(key[1:]) % N_BUCKETS


def lww(rows) -> list[Row]:
    """One winner per key: the greatest lsn (lsns are unique)."""
    best: dict[str, Row] = {}
    for r in rows:
        if r.key not in best or r.lsn > best[r.key].lsn:
            best[r.key] = r
    return list(best.values())


def entry(path: str, kind: str, rows: list[Row], flavour: str,
          group: str | None = None) -> dict[str, Any]:
    """A manifest entry whose statistics are computed from its rows the way
    ``LakeTable._collect_entries`` records them."""
    e: dict[str, Any] = {"path": path, "kind": kind, "rows": len(rows)}
    if group is not None:
        e["lww_group"] = group
    if flavour == "none":
        return e
    e["key_min"] = min(r.key for r in rows)
    e["key_max"] = max(r.key for r in rows)
    e["lsn_min"] = min(r.lsn for r in rows)
    e["lsn_max"] = max(r.lsn for r in rows)
    ts = [r.ts for r in rows if r.ts is not None]
    if flavour == "ts_other":
        e.update(ts_min=1000, ts_max=1001, ts_nulls=0, ts_id=TS_ID + 100)
    else:
        if ts:
            e.update(ts_min=min(ts), ts_max=max(ts))
        e.update(ts_nulls=len(rows) - len(ts), ts_id=TS_ID)
    if flavour != "overcap":
        e["sets"] = {str(EQ_ID): sorted({r.eq for r in rows} - {None})}
        e["tok"] = {"s": sorted(set().union(*(r.toks for r in rows))),
                    "id": TOK_ID}
    return e


class Table:
    """A bucketed manifest plus the rows behind each entry's path."""

    def __init__(self) -> None:
        self.files: dict[str, list[dict[str, Any]]] = {
            str(b): [] for b in range(N_BUCKETS)
        }
        self.rows: dict[str, list[Row]] = {}
        self.n = 0

    def _add(self, kind: str, rows: list[Row], flavour: str,
             group: str | None = None) -> dict[str, Any]:
        self.n += 1
        path = f"f{self.n}"
        self.rows[path] = rows
        return entry(path, kind, rows, flavour, group)

    def commit(self, batch: list[Row], flavour) -> None:
        """One delta file per touched bucket holding its batch winners;
        ``flavour()`` picks each file's statistics."""
        for b in range(N_BUCKETS):
            win = lww(r for r in batch if bucket_of(r.key) == b)
            if win:
                self.files[str(b)].append(
                    self._add("delta", win, flavour()))

    def compact(self, b: int, n_slices: int, by_ts: bool, flavour) -> None:
        """Fold bucket ``b`` into up to ``n_slices`` base files (each key in
        exactly one) sharing one ``lww_group``; tombstones are kept."""
        win = lww(r for e in self.files[str(b)] for r in self.rows[e["path"]])
        if not win:
            return
        order = (lambda r: (r.ts is not None, r.ts or 0, r.key)) if by_ts \
            else (lambda r: r.key)
        win.sort(key=order)
        step = -(-len(win) // n_slices)
        group = f"g{self.n}"
        self.files[str(b)] = [
            self._add("base", win[i:i + step], flavour(), group)
            for i in range(0, len(win), step)
        ]

    def all_rows(self, entries) -> list[Row]:
        return [r for e in entries for r in self.rows[e["path"]]]


class Rules(NamedTuple):
    buckets: list[int] | None = None
    keys: list[str] | None = None
    window: tuple[int, int] | None = None
    eq: int | None = None
    tok: str | None = None

    def preds(self):
        """The planner input ``read()`` builds: ts first, then content."""
        out = []
        if self.window is not None:
            out.append(("ts", TS_ID, self.window, "ts"))
        if self.eq is not None:
            out.append(("eq", EQ_ID, self.eq, "eq"))
        if self.tok is not None:
            out.append(("tok", TOK_ID, self.tok, "tok"))
        return out

    def residual(self, rows: list[Row]) -> list[Row]:
        """The filters applied after resolution: exact bucket selection,
        the caller's key filter, then ts / eq / token. A tombstone has no
        payload, so it never passes a payload filter."""
        return sorted(
            r for r in rows
            if (self.buckets is None or bucket_of(r.key) in self.buckets)
            and (self.keys is None or r.key in self.keys)
            and (self.window is None or (
                r.ts is not None and self.window[0] <= r.ts <= self.window[1]))
            and (self.eq is None or r.eq == self.eq)
            and (self.tok is None or self.tok in r.toks)
        )


def check(table: Table, rules: Rules):
    """Planned read == LWW over every row, after the same filters."""
    total = sum(len(fs) for fs in table.files.values())
    plan = _plan_scan(table.files, rules.buckets, rules.keys, rules.preds())
    assert total == (
        len(plan.folded) + len(plan.delta) + sum(plan.pruned.values())
    )
    got = rules.residual(
        table.all_rows(plan.folded) + lww(table.all_rows(plan.delta)))
    every = [e for fs in table.files.values() for e in fs]
    want = rules.residual(lww(table.all_rows(every)))
    assert got == want, (rules, plan)
    return plan


@st.composite
def tables(draw) -> Table:
    n = draw(st.integers(1, 20))
    lsns = draw(st.permutations(range(1, n + 1)))  # late arrivals included
    rows = []
    for lsn in lsns:
        key = draw(st.sampled_from(KEYS))
        if draw(st.integers(0, 4)) == 0:
            rows.append(Row(key, lsn, True, None, None, frozenset()))
        else:
            rows.append(Row(
                key, lsn, False,
                draw(st.sampled_from([None, *range(TS_MAX + 1)])),
                draw(st.sampled_from([None, *EQ_VALUES])),
                frozenset(draw(st.sets(st.sampled_from(VOCAB), max_size=2))),
            ))

    def flavour() -> str:
        return draw(st.sampled_from(FLAVOURS))

    table = Table()
    i = 0
    while i < len(rows):
        size = draw(st.integers(1, 4))
        table.commit(rows[i:i + size], flavour)
        i += size
        for b in range(N_BUCKETS):
            if draw(st.integers(0, 2)) == 0:
                table.compact(b, draw(st.integers(1, 3)), draw(st.booleans()),
                              flavour)
    return table


rule_sets = st.builds(
    Rules,
    buckets=st.lists(st.integers(0, N_BUCKETS - 1), max_size=2, unique=True),
    keys=st.lists(st.sampled_from(KEYS + ["k99"]), min_size=1, max_size=3),
    window=st.tuples(
        st.integers(0, TS_MAX), st.integers(0, 3)
    ).map(lambda t: (t[0], t[0] + t[1])),
    eq=st.sampled_from(EQ_VALUES),
    tok=st.sampled_from(VOCAB),
)


#: every payload rule alone over its whole (small) value domain
SWEEP = (
    [Rules(window=(lo, hi)) for lo in range(TS_MAX + 1)
     for hi in range(lo, TS_MAX + 1)]
    + [Rules(eq=v) for v in EQ_VALUES]
    + [Rules(tok=t) for t in VOCAB]
)


# no shrink phase: a failing example is reported as generated — shrinking
# this composite runs into hypothesis's five-minute shrink limit
@settings(max_examples=150, deadline=None, derandomize=True,
          phases=[Phase.generate])
@given(table=tables(), values=rule_sets)
def test_plan_keeps_every_winner(table, values):
    """Each rule on or off with the drawn values (all 32 combinations),
    then the single-rule sweep."""
    for on in itertools.product([False, True], repeat=len(values)):
        check(table, Rules(*(v if o else None for v, o in zip(values, on))))
    for rules in SWEEP:
        check(table, rules)


def _fixed_table() -> Table:
    """Bucket 0 folded into two ts slices, then a late lower-lsn delta that
    matches where its key's winner does not; bucket 1 deltas only, one of
    them statless; bucket 2 an old non-matching delta under newer ones,
    one with over-cap content stats."""
    t = Table()

    def full() -> str:
        return "full"

    # k0, k3, k6 hash to bucket 0; k1, k4 to bucket 1; k2, k5 to bucket 2
    t.commit([Row("k5", 2, False, 9, 0, frozenset({"red"}))], full)
    t.commit([
        Row("k0", 10, False, 1, 0, frozenset({"red"})),
        Row("k3", 11, False, 2, 1, frozenset({"blue"})),
        Row("k6", 12, False, 15, 2, frozenset({"green"})),
        Row("k1", 13, False, 3, 0, frozenset({"red"})),
        Row("k2", 14, False, 4, 1, frozenset({"cyan"})),
    ], full)
    t.commit([Row("k3", 20, False, 16, 2, frozenset({"green"}))], full)
    t.compact(0, 2, True, full)  # slices {k0 @10, k6 @12}, {k3 @20}
    t.commit([Row("k3", 5, False, 2, 1, frozenset({"blue"}))], full)
    t.commit([Row("k4", 21, False, 17, 2, frozenset({"green"}))],
             lambda: "none")
    t.commit([
        Row("k1", 22, True, None, None, frozenset()),
        Row("k2", 23, False, 18, 0, frozenset({"red"})),
    ], iter(["full", "overcap"]).__next__)
    return t


def test_fixed_manifest_every_rule_prunes_and_stays_sound():
    """Every rule combination over a hand-built manifest holds the
    property, and each of the four rules prunes somewhere."""
    table = _fixed_table()
    seen = dict.fromkeys(("bucket", "key", "ts", "content"), 0)
    for buckets, keys, window, eq, tok in itertools.product(
        [None, [0], [1, 2]],
        [None, ["k3"], ["k0", "k4"]],
        [None, (0, 5), (15, 20)],
        [None, 1],
        [None, "blue"],
    ):
        plan = check(table, Rules(buckets, keys, window, eq, tok))
        for rule, n in plan.pruned.items():
            seen[rule] += n
    assert all(n > 0 for n in seen.values()), seen
