"""The benchmark's two workloads: seeded op decks, the timed op, and the
correctness model each op's output is checked against.

Every workload is a closed loop with one client: the next op is sent only
after the previous reply, as an agent or an analyst waits for each answer.
A deck is a list of blocks; a run executes whole blocks, so every run covers
the same mix of op kinds.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_EVEN, Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)


def _oracle_module():
    """The repository's DuckDB comparator, ``tests/oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "enginebench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duckdb_connect(threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


# ---------------------------------------------------------------- crm_agent

#: genres a filter asks for (each held by >= 5% of fans), spelled in any case
_ASK_GENRES = ["Jazz", "Blues", "Indie", "Gospel", "Rock", "Hip-Hop", "Classical", "Latin"]
_CITY_PARTS = ["chic", "Chicago", "oak", "SPRING", "ur", "Rock", "a"]
_EVENTS = ["Jazz Night", "Blues Brunch", "Indie Fest", "Gospel Sunday", "VIP Gala"]
_TONES = ["enthusiastic", "exclusive", "casual"]


def _spell(rng: random.Random, word: str) -> str:
    return rng.choice([word, word.lower(), word.upper()])


_FILTER_KINDS = ["genres", "min_months", "max_months", "spent", "city"]


def _random_filters(rng: random.Random, n: int) -> dict:
    """``n`` AND-ed filters (0-5) whose joint selectivity stays above ~1e-4."""
    chosen = rng.sample(_FILTER_KINDS, n)
    f: dict = {}
    if "genres" in chosen:
        f["genres"] = [_spell(rng, g) for g in rng.sample(_ASK_GENRES, rng.randint(1, 3))]
    if "min_months" in chosen:
        f["min_months_since_purchase"] = rng.choice([1, 2, 2.5, 3, 3.0])
    if "max_months" in chosen:
        f["max_months_since_purchase"] = rng.choice([6, 9, 12, 14.5])
    if "spent" in chosen:
        f["min_total_spent"] = rng.choice([150, 200, 200.0, 300.5, 500])
    if "city" in chosen:
        f["city"] = _spell(rng, rng.choice(_CITY_PARTS))
    return f


def _empty_filters(rng: random.Random) -> dict:
    """Filters no fan matches: spend above the 934.00 maximum, or a city
    that does not exist, AND-ed with ordinary ones."""
    f = _random_filters(rng, rng.randint(0, 3))
    if rng.random() < 0.5:
        f["min_total_spent"] = 1000.0
    else:
        f["city"] = "Atlantis"
    return f


class CrmAgent:
    """Layer A: the agent's tool calls against the fan table."""

    name = "crm_agent"
    rows = 250_000
    #: nominal seconds of one block, which sizes a run's block count
    block_s = 9.0
    blocks = 16

    def dataset(self, smoke: bool) -> tuple[str, float] | str:
        if smoke:
            return os.path.join(ROOT, "data")  # the committed 80-row fixture
        return ("fans", self.rows)

    def deck(self, seed: int) -> list[list[Op]]:
        """Blocks of 8 turns: one returns the empty sentinel, the other seven
        carry 0, 1, 2, 3, 3, 4 and 5 filters, and two of those are campaign
        turns (query, copy, schedule). The seed picks the filters, their
        values and the order; every block has the same mix."""
        rng = random.Random(f"crm_agent/{seed}")
        return [_crm_block(rng, [0, 1, 2, 3, 3, 4, 5], 2) for _ in range(self.blocks)]

    def warmup(self, seed: int) -> list[Op]:
        """Every filter kind, the empty sentinel and one campaign turn."""
        rng = random.Random(f"crm_agent/warmup/{seed}")
        return _crm_block(rng, [5, 1, 0], 1)

    def register(self, spark, data_dir: str):
        return {"spark": spark, "fans": spark.read.parquet(os.path.join(data_dir, "fans.parquet"))}

    def execute(self, ctx: dict, op: Op, tracer):
        from hive_feature_demo_spark import api
        from hive_feature_demo_spark.fixtures.fans import TODAY

        if op.kind == "query_crm":
            with tracer.phase("api.query_crm"):
                res = api.query_crm(ctx["fans"], **op.args, today=TODAY)
            ctx["last"] = (op.args, res)
            return res
        filters, last = ctx["last"]
        if op.kind == "copy":
            args = dict(op.args, audience_description=_describe(filters))
            with tracer.phase("api.copy"):
                res = api.generate_campaign_copy(ctx["spark"], **args)
        else:
            args = dict(op.args, segment_id=last["segment_id"], audience_size=last["count"])
            with tracer.phase("api.schedule"):
                res = api.schedule_campaign(ctx["spark"], **args)
        return {"inputs": args, "result": res}

    # ---- correctness

    def oracle(self, data_dir: str, threads: int) -> "CrmOracle":
        return CrmOracle(os.path.join(data_dir, "fans.parquet"), threads)

    def dedup_probe(self, ctx: dict) -> dict:
        return {}


def _crm_block(rng: random.Random, filter_counts: list[int], n_campaigns: int) -> list[Op]:
    """One empty-sentinel turn plus one turn per entry of ``filter_counts``,
    shuffled; ``n_campaigns`` of the non-empty turns are campaign turns."""
    turns = [_random_filters(rng, n) for n in filter_counts]
    campaigns = set(rng.sample(range(len(turns)), n_campaigns))
    turns = [(f, i in campaigns) for i, f in enumerate(turns)] + [(_empty_filters(rng), False)]
    rng.shuffle(turns)
    block: list[Op] = []
    for filters, campaign in turns:
        block.append(Op("query_crm", filters))
        if campaign:
            event = rng.choice(_EVENTS)
            date = f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            block.append(Op("copy", {
                "event_name": event, "event_date": date,
                "tone": rng.choice(_TONES + ["unknown"]),
            }))
            block.append(Op("schedule", {"event_name": event, "send_at": f"{date}T10:00:00"}))
    return block


def _describe(filters: dict) -> str:
    parts = [",".join(filters["genres"]).lower()] if filters.get("genres") else []
    if filters.get("city"):
        parts.append(f"in {filters['city']}")
    return " ".join(parts) or "all"


class CrmOracle:
    """A DuckDB model of ``query_crm``: lowered genre ANY-of, months =
    days / 30.44 with inclusive bounds, HALF_EVEN on exact sums, the first 5
    rows by ``id``; copy and schedule are modelled from their template and
    hash definitions."""

    def __init__(self, fans_path: str, threads: int) -> None:
        self.con = duckdb_connect(threads)
        self.con.execute(f"CREATE VIEW fans AS SELECT * FROM read_parquet('{fans_path}')")
        self._cache: dict[str, dict] = {}

    def expected(self, op: Op, out) -> object:
        if op.kind == "query_crm":
            key = repr(sorted(op.args.items()))
            if key not in self._cache:
                self._cache[key] = self._query(op.args)
            return self._cache[key]
        args = out["inputs"]
        if op.kind == "copy":
            return {"inputs": args, "result": _copy_model(**args)}
        return {"inputs": args, "result": _schedule_model(**args)}

    def _query(self, f: dict) -> dict:
        from hive_feature_demo_spark.fixtures.fans import TODAY
        from hive_feature_demo_spark.operators.segment import (
            PREVIEW_COLUMNS, SegmentFilters, segment_id_for,
        )

        where, params = ["TRUE"], []
        if f.get("genres"):
            where.append("list_has_any(list_transform(genres, g -> lower(g)), ?::VARCHAR[])")
            params.append([g.lower() for g in f["genres"]])
        months = "date_diff('day', last_purchase_date, ?::DATE) / 30.44"
        if f.get("min_months_since_purchase") is not None:
            where.append(f"{months} >= ?")
            params += [TODAY, float(f["min_months_since_purchase"])]
        if f.get("max_months_since_purchase") is not None:
            where.append(f"{months} <= ?")
            params += [TODAY, float(f["max_months_since_purchase"])]
        if f.get("min_total_spent") is not None:
            where.append("total_spent >= ?")
            params.append(float(f["min_total_spent"]))
        if f.get("city"):
            where.append("contains(lower(city), ?)")
            params.append(f["city"].lower())
        cond = " AND ".join(where)
        n, spent, opened = self.con.execute(
            "SELECT count(*), sum(CAST(total_spent AS DECIMAL(18,2))), "
            f"sum(CAST(email_open_rate AS DECIMAL(18,2))) FROM fans WHERE {cond}",
            params,
        ).fetchone()
        if n == 0:
            return {"count": 0, "segment_id": "", "avg_spent": 0, "open_rate": 0, "fans": []}
        cols = ", ".join(PREVIEW_COLUMNS)
        rows = self.con.execute(
            f"SELECT {cols} FROM fans WHERE {cond} ORDER BY id LIMIT 5", params
        ).fetchall()
        filters = SegmentFilters(
            genres=tuple(f["genres"]) if f.get("genres") else None,
            min_months_since_purchase=f.get("min_months_since_purchase"),
            max_months_since_purchase=f.get("max_months_since_purchase"),
            min_total_spent=f.get("min_total_spent"),
            city=f.get("city"),
        )

        def avg(total) -> float:
            q = (Decimal(total) / Decimal(n)).quantize(Decimal("0.01"), ROUND_HALF_EVEN)
            return float(q)

        return {
            "count": n,
            "segment_id": segment_id_for(filters, TODAY),
            "avg_spent": avg(spent),
            "open_rate": avg(opened),
            "fans": [dict(zip(PREVIEW_COLUMNS, r)) for r in rows],
        }

    def same(self, op: Op, out, expected) -> bool:
        return out == expected


def _copy_model(audience_description, event_name, event_date, tone) -> dict:
    if tone not in _TONES:
        tone = "enthusiastic"
    return {
        "email": {
            "subject": f"You're invited: {event_name}",
            "preview_text": f"Don't miss {event_name} on {event_date}",
            "body": (
                f"Hi there!\n\n{tone} — {event_name} is coming up on {event_date}. "
                f"As one of our {audience_description} fans, we wanted you to hear it first."
                "\n\nGet your tickets now!"
            ),
        },
        "sms": {"body": f"{event_name} — {event_date}. Get your tickets now!"},
    }


def _schedule_model(segment_id, event_name, audience_size, send_at) -> dict:
    digest = hashlib.sha256(f"{segment_id}|{event_name}|{send_at}".encode()).hexdigest()
    return {
        "campaign_id": f"cmp_{digest[:8]}",
        "segment_id": segment_id,
        "event_name": event_name,
        "audience_size": audience_size,
        "send_at": send_at,
        "status": "scheduled",
    }


# ----------------------------------------------------------------- registry


class Registry:
    """Layer B: read-only star-schema analytics (scans, joins, windows, an
    as-of join) beside the LLM-pipeline operators (LSH dedup, Arrow text
    statistics, a streaming dedup within a watermark, with state, a
    partitioned write and an SCD1 merge). One op is one registry query: its
    builder call plus a ``collect()`` of its result."""

    name = "registry"
    queries = ("q01", "q02", "q07", "q50", "q46", "q64", "q168", "q119", "q129")
    sf = 0.01
    #: sizes the pass count: three passes at 20 s, one at 10 s (a traced
    #: run's half-length phases)
    block_s = 7.0

    def dataset(self, smoke: bool) -> tuple[str, float]:
        return ("star", 0.001 if smoke else self.sf)

    def names(self) -> list[str]:
        from hive_feature_demo_spark.plans.registry import REGISTRY

        full = {k.split("_")[0]: k for k in REGISTRY}
        return [full[q] for q in self.queries]

    def deck(self, seed: int) -> list[list[Op]]:
        """One block is one pass over the fixed query list; the seed varies
        the generated tables, not the order."""
        return [[Op(name) for name in self.names()]]

    def warmup(self, seed: int) -> list[Op]:
        return self.deck(seed)[0]

    def register(self, spark, data_dir: str):
        from hive_feature_demo_spark.catalog import register_testdata

        register_testdata(spark, data_dir)
        return {"spark": spark, "dir": data_dir}

    def execute(self, ctx: dict, op: Op, tracer):
        from hive_feature_demo_spark.plans.registry import REGISTRY

        with tracer.phase("plans.build"):
            df = REGISTRY[op.kind].fn(ctx["spark"], ctx["dir"])
            cols = df.columns
        with tracer.phase("plans.action"):
            rows = [tuple(r) for r in df.collect()]
        return cols, rows

    def oracle(self, data_dir: str, threads: int) -> "RegistryOracle":
        return RegistryOracle(data_dir, threads)

    def dedup_probe(self, ctx: dict) -> dict:
        """LSH candidate and verified near-duplicate pair counts on the
        documents table, through ``operators.dedup`` with q46's parameters
        (3-word shingles, 16 permutations, 4 bands of 4 rows, Jaccard 0.5)."""
        from hive_feature_demo_spark.catalog import table
        from hive_feature_demo_spark.operators import dedup

        docs = table(ctx["spark"], ctx["dir"], "documents")
        sh = dedup.hashed_shingle_index(docs, "doc_id", "text", 3)
        sig = dedup.minhash_signatures_from_index(sh, "doc_id", 16, already_hashed=True)
        cands = dedup.lsh_candidate_pairs(sig, "doc_id", 4, 4).localCheckpoint(eager=True)
        verified = dedup.verify_jaccard_on_candidates(sh, cands, "doc_id", 0.5)
        return {"candidates": cands.count(), "verified": verified.count()}


class RegistryOracle:
    """``tests/oracle.py``: the registry's DuckDB SQL over the same tables,
    compared as canonical sorted rows. A query without oracle SQL must
    match its warm-up result."""

    def __init__(self, data_dir: str, threads: int) -> None:
        self.mod = _oracle_module()
        self.con = self.mod.duckdb_con(data_dir)
        self.con.execute(f"SET threads = {threads}")
        self._cache: dict[str, object] = {}
        self.warm: dict[str, object] = {}

    def canon(self, out):
        cols, rows = out
        return sorted(cols), self.mod.canonical_rows(cols, rows)

    def expected(self, op: Op, out):
        from hive_feature_demo_spark.plans.registry import REGISTRY

        if op.kind not in self._cache:
            sql = REGISTRY[op.kind].oracle
            if sql is None:
                self._cache[op.kind] = self.warm[op.kind]
            else:
                rel = self.con.sql(sql)
                self._cache[op.kind] = self.canon((list(rel.columns), rel.fetchall()))
        return self._cache[op.kind]

    def same(self, op: Op, out, expected) -> bool:
        return self.canon(out) == expected


WORKLOADS = {w.name: w for w in (CrmAgent(), Registry())}
