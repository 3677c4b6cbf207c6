"""The two workloads: seeded inputs, one op per workload driven through
the public functions ``job.py`` calls, and the output checks that count
``output_mismatches``.

Each workload is a closed loop with a single client: the next op starts
only when the previous one has returned.

* ``backfill`` — ``run_pipeline`` over a bucketed transcript table, plus
  the conversation write, as ``job.py`` extract mode runs it.
* ``curate`` — ``plans.curate.curate`` with production defaults over a
  generated corpus with planted exact duplicates, near-duplicate clusters,
  gate failures and one templated flood.

``Feed`` is no workload of its own: the traced ``backfill`` run drains it
(the same generator written as small parquet files, one file per
trigger) to time the streaming layer.

Every check compares against a reference computed outside the timed
window and returns the number of output rows that differ from it.
"""
from __future__ import annotations

import os
import random

import pandas as pd

from docext_spark.core.convert import conversation_markdown, turn_to_markdown
from docext_spark.core.textstats import EN_STOPWORDS, STOPWORDS_BY_LANG
from docext_spark.schema import TRANSCRIPT_SCHEMA
from docext_spark.synth import generate_transcripts

TURN_FIELDS = ("role", "md", "kind", "blocks_kept", "blocks_dropped",
               "classifier_decisions", "parse_ok")


def _transcript_frame(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPT_SCHEMA.fields])


def reference_turns(rows: list[dict]) -> dict:
    """(conv_id, turn_idx) → turn_to_markdown result plus the input role:
    the reference every extraction output is compared against."""
    ref = {}
    for r in rows:
        out = turn_to_markdown(r["text"])
        out["role"] = r["role"]
        ref[(r["conv_id"], r["turn_idx"])] = out
    return ref


def count_turn_mismatches(ref: dict, turns: pd.DataFrame) -> int:
    """Rows of ``turns`` (one per committed turn) that are missing, extra,
    duplicated or differ from ``ref`` in any per-turn field."""
    bad = 0
    seen = set()
    for row in turns.itertuples(index=False):
        key = (row.conv_id, int(row.turn_idx))
        want = ref.get(key)
        if key in seen or want is None:
            bad += 1
            continue
        seen.add(key)
        if any(getattr(row, f) != want[f] for f in TURN_FIELDS):
            bad += 1
    return bad + len(ref.keys() - seen)


class _Transcripts:
    """Inputs from the ``synth`` generator: 40% html, median 8 turns, one
    conversation 50× the median."""

    item = "turns"
    N_CONVS = 0
    MIN_OPS = 1

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.rows = generate_transcripts(
            n_convs=max(3, round(self.N_CONVS * scale)), seed=seed)
        self.n_items = len(self.rows)
        self.seed, self.scale = seed, scale
        self.work = work
        self.input = None


class Backfill(_Transcripts):
    """The transcript table in the ``write_transcripts`` layout."""

    name = "backfill"
    N_CONVS = 900
    # op times fall over the first ops of a process as the JIT warms
    # (about 7.5, 3.3, 2.8 s, then 2.2 s on 4 vCPUs); after two warm ops
    # a run's median op is a steady one
    WARM_OPS = 2
    # bucket count sized so each bucket file holds ~300 turns, as a
    # production bucket holds far more turns than files
    N_BUCKETS = 32

    def write_input(self, spark) -> None:
        from docext_spark.sources.transcripts import write_transcripts
        self.input = os.path.join(self.work, "input")
        df = spark.createDataFrame(_transcript_frame(self.rows),
                                   TRANSCRIPT_SCHEMA)
        write_transcripts(df, self.input, n_buckets=self.N_BUCKETS)

    def scan(self, spark):
        from docext_spark.sources.transcripts import read_transcripts
        return read_transcripts(spark, self.input)

    def warm_up(self, spark) -> None:
        """Spawn the Python workers of a fresh context."""
        from docext_spark.operators.extract import extract_turns
        extract_turns(self.scan(spark)).write.format("noop").mode(
            "overwrite").save()

    def op(self, spark, out: str) -> int:
        from docext_spark.plans.pipeline import run_pipeline
        res = run_pipeline(spark, self.scan(spark),
                           output_root=os.path.join(out, "results"),
                           metrics_path=os.path.join(out, "metrics"))
        res["convs"].write.mode("overwrite").parquet(
            os.path.join(out, "convs"))
        return res["written"]

    def read_output(self, spark, out: str) -> dict:
        from docext_spark.sources.checkpoint import CheckpointedResults
        committed = CheckpointedResults(os.path.join(out, "results"))
        return {
            "turns": committed.committed(spark).toPandas(),
            "convs": spark.read.parquet(os.path.join(out, "convs")).toPandas(),
            "metrics": spark.read.parquet(
                os.path.join(out, "metrics")).toPandas(),
        }

    def reference(self, spark) -> dict:
        turns = reference_turns(self.rows)
        by_conv: dict[str, list] = {}
        for (conv, idx), r in turns.items():
            by_conv.setdefault(conv, []).append((idx, r["md"]))
        convs = {c: (len(v), conversation_markdown([md for _, md in sorted(v)]))
                 for c, v in by_conv.items()}
        return {"turns": turns, "convs": convs,
                "spans": sum(len(r["spans"]) for r in turns.values()),
                "parse_failures": sum(not r["parse_ok"] for r in turns.values())}

    @staticmethod
    def count_mismatches(ref: dict, output: dict) -> int:
        """Per-turn fields against ``turn_to_markdown``; ``conv_md``
        against ``conversation_markdown`` over turns sorted by
        ``turn_idx``; the lineage totals (spans are only emitted there)
        against the reference span and parse-failure counts."""
        bad = count_turn_mismatches(ref["turns"], output["turns"])
        seen = set()
        for row in output["convs"].itertuples(index=False):
            want = ref["convs"].get(row.conv_id)
            if row.conv_id in seen or want != (row.n_turns, row.conv_md):
                bad += 1
            seen.add(row.conv_id)
        bad += len(ref["convs"].keys() - seen)
        m = output["metrics"]
        bad += int(m["turns_processed"].sum() != len(ref["turns"]))
        bad += int(m["spans_emitted"].sum() != ref["spans"])
        bad += int(m["parse_failures"].sum() != ref["parse_failures"])
        return bad


class Feed(_Transcripts):
    """The transcripts written as many small parquet files and drained by
    ``start_extraction_stream`` one file per trigger: the streaming pass
    of the traced ``backfill`` run."""

    name = "feed"
    N_CONVS = 450
    N_FILES = 6
    FILES_PER_TRIGGER = 1

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        super().__init__(seed, work, scale)
        self.progress: dict[str, list[dict]] = {}

    def write_input(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.input = os.path.join(self.work, "input")
        os.makedirs(self.input)
        frame = _transcript_frame(self.rows)
        schema = pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])
        frame["ts"] = frame["ts"].dt.tz_localize("UTC")
        step = -(-len(frame) // self.N_FILES)
        for i in range(self.N_FILES):
            part = frame.iloc[i * step:(i + 1) * step]
            pq.write_table(pa.Table.from_pandas(part, schema=schema,
                                                preserve_index=False),
                           os.path.join(self.input, f"part-{i:04d}.parquet"))

    def scan(self, spark):
        return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(self.input)

    def op(self, spark, out: str) -> int:
        # run_extraction_stream's own steps, keeping the query handle so
        # the per-trigger progress can be read after the drain
        from docext_spark.streaming.extract_stream import start_extraction_stream
        q = start_extraction_stream(
            spark, self.input, os.path.join(out, "checkpoint"),
            os.path.join(out, "results"),
            max_files_per_trigger=self.FILES_PER_TRIGGER)
        q.awaitTermination()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress[out] = batches
        spark.read.parquet(os.path.join(out, "results"))
        return sum(p["numInputRows"] for p in batches)

    def read_output(self, spark, out: str) -> dict:
        return {"turns": spark.read.parquet(
            os.path.join(out, "results")).toPandas()}

    def reference(self, spark) -> dict:
        """The batch result over the same files: every committed stream
        row must equal it."""
        from docext_spark.operators.extract import extract_turns
        batch = extract_turns(self.scan(spark)).toPandas()
        return {(r.conv_id, int(r.turn_idx)): {f: getattr(r, f) for f in TURN_FIELDS}
                for r in batch.itertuples(index=False)}

    @staticmethod
    def count_mismatches(ref: dict, output: dict) -> int:
        return count_turn_mismatches(ref, output["turns"])


# ---------------------------------------------------------------- curate

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_STOPWORDS = {w for ws in STOPWORDS_BY_LANG.values() for w in ws}
# the content vocabulary: pronounceable pseudo-words that are no stopword
# of any language the gate knows, so language id sees only planted words
_VOCAB = [w for w in (a + b + c for a in _SYLLABLES[:12]
                      for b in _SYLLABLES[12:36:3] for c in ("", "n", "r"))
          if w not in _STOPWORDS]
# templated boilerplate: a repeated stopword phrase plus two per-document
# reference words. Any two flood documents share 3 of 7 distinct 3-word
# shingles (Jaccard 0.43, below the 0.5 verify threshold), yet most of
# them share their minhash minima, so LSH piles them into buckets larger
# than the flood cap.
_FLOOD_PHRASE = "to the of to the of"
FUNNEL_STAGES = ("0_input", "1_quality_gate", "2_exact_dedup",
                 "3_fuzzy_dedup")


def _code_word(i: int, prefix: str) -> str:
    word = prefix
    while True:
        i, r = divmod(i, len(_SYLLABLES))
        word += _SYLLABLES[r]
        if not i:
            return word


def generate_corpus(seed: int, n_base: int = 1000, n_exact: int = 100,
                    n_clusters: int = 100, n_junk: int = 150,
                    n_flood: int = 1500) -> tuple[list[tuple[int, str]], set]:
    """(doc_id, text) rows in shuffled id order, and the doc_ids the
    curation funnel must keep: the lowest id of every exact-duplicate
    group and of every near-duplicate cluster, every flood document, and
    no gate failure."""
    rng = random.Random(seed)

    def body(n: int) -> str:
        # every third word a stopword: stopword ratio 1/3, so every such
        # document is English and passes the quality gate
        return " ".join(rng.choice(EN_STOPWORDS) if i % 3 == 0
                        else rng.choice(_VOCAB) for i in range(n))

    docs: list[tuple[str, object]] = []  # (text, dedup group or None)
    for g in range(n_base):
        text = body(rng.randint(50, 70))
        docs.append((text, ("base", g)))
        if g < n_exact:  # normalizes to the same text: an exact duplicate
            docs.append(("  " + text.upper().replace(" ", "  ", 3), ("base", g)))
    for c in range(n_clusters):
        # near-duplicates: each variant appends one word to the previous,
        # so neighbours share all but one shingle (Jaccard >= 0.96) and
        # the cluster is found under any minhash family
        text = body(rng.randint(50, 70))
        for _ in range(rng.randint(3, 4)):
            docs.append((text, ("cluster", c)))
            text += " " + rng.choice(_VOCAB)
    de = STOPWORDS_BY_LANG["de"]
    for j in range(n_junk):
        kind = j % 3
        if kind == 0:    # too short
            text = " ".join(rng.choice(_VOCAB) for _ in range(3))
        elif kind == 1:  # German
            text = " ".join(rng.choice(de) if rng.random() < 0.6
                            else rng.choice(_VOCAB) for _ in range(40))
        else:            # no letters, no stopwords
            text = " ".join(str(rng.randint(1000, 99999)) for _ in range(20))
        docs.append((text, None))
    for f in range(n_flood):
        docs.append((f"{_FLOOD_PHRASE} {_code_word(f, 'ref')} "
                     f"{_code_word(f, 'no')}", ("flood", f)))
    rng.shuffle(docs)
    rows = [(i + 1, text) for i, (text, _) in enumerate(docs)]
    keep: dict[object, int] = {}
    for (doc_id, _), (_, group) in zip(rows, docs):
        if group is not None:
            keep[group] = min(keep.get(group, doc_id), doc_id)
    return rows, set(keep.values())


# Rewrites of the oracle SQL. The twin pins a 300-document slice of the
# oracle-parity testdata, lifted here so every generated document counts. DuckDB
# re-evaluates a plain CTE at every step of the recursive component search,
# so the two CTEs it reads are materialised (22 s -> 4 s on 3k documents).
# The twin keeps only Jaccard-verified pairs its own 8-hash sha256 LSH also
# proposes; that LSH misses a planted near-duplicate pair on some seeds
# (seed 11 of 1-30) where production's xxhash64 LSH does not, so the replay
# verifies every pair: the exact funnel the LSH approximates.
_ORACLE_REWRITES = (("WHERE doc_id < 300", ""),
                    ("exact AS (", "exact AS MATERIALIZED ("),
                    ("edges AS (", "edges AS MATERIALIZED ("),
                    ("  JOIN cands c ON j.id_a = c.id_a AND j.id_b = c.id_b\n", ""))


def oracle_funnel(rows: list[tuple[int, str]], tmp: str) -> dict[str, int]:
    """DuckDB replay of the ``curate_funnel`` oracle twin over the whole
    generated corpus."""
    import duckdb

    from __spark_entry__ import oracle_sql
    sql = oracle_sql()["curate_funnel"]
    for old, new in _ORACLE_REWRITES:
        if sql.count(old) != 1:
            raise RuntimeError(f"curate_funnel oracle changed shape ({old!r}); "
                               "update the benchmark replay")
        sql = sql.replace(old, new)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        con.execute(f"SET temp_directory = '{tmp}'")
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        return {stage: int(n) for stage, n in con.execute(sql).fetchall()}
    finally:
        con.close()


class Curate:
    """``curate`` with production defaults (xxhash64 LSH, flood cap on)
    over a planted corpus, writing the corpus and collecting the funnel as
    ``job.py --mode curate`` does."""

    name = "curate"
    item = "docs"
    # op times fall as the JIT warms (about 17, 8.2, 7.8, then 7 s on
    # 4 vCPUs); one warm op and at least three timed ones fit a run's time
    # budget, and the median of three ignores one slow op
    WARM_OPS = 1
    MIN_OPS = 3

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        sizes = {"n_base": 600, "n_exact": 60, "n_clusters": 60,
                 "n_junk": 90, "n_flood": 1500}
        self.rows, self.expected_kept = generate_corpus(
            seed, **{k: max(3, round(v * scale)) for k, v in sizes.items()})
        self.n_items = len(self.rows)
        self.work = work
        self.input = None
        self.funnels: dict[str, dict[str, int]] = {}

    def write_input(self, spark) -> None:
        self.input = os.path.join(self.work, "input")
        (spark.createDataFrame(pd.DataFrame(self.rows,
                                            columns=["doc_id", "text"]),
                               "doc_id long, text string")
         .write.parquet(self.input))

    def scan(self, spark):
        return spark.read.parquet(self.input)

    def op(self, spark, out: str) -> int:
        from docext_spark.plans.curate import curate
        res = curate(self.scan(spark))
        res["corpus"].write.mode("overwrite").parquet(out)
        self.funnels[out] = {r["stage"]: r["n_docs"]
                             for r in res["funnel"].collect()}
        res["unpersist"]()
        return self.n_items

    def read_output(self, spark, out: str) -> dict:
        kept = spark.read.parquet(out).select("doc_id").toPandas()
        return {"kept": kept["doc_id"].tolist(), "funnel": self.funnels[out]}

    def reference(self, spark) -> dict:
        return {"kept": self.expected_kept,
                "funnel": oracle_funnel(self.rows, os.path.join(self.work, "tmp"))}

    @staticmethod
    def count_mismatches(ref: dict, output: dict) -> int:
        """Kept ids that differ from the planted expectation, plus funnel
        rows that differ from the DuckDB oracle."""
        kept = output["kept"]
        bad = len(kept) - len(set(kept)) + len(set(kept) ^ ref["kept"])
        return bad + sum(output["funnel"].get(s) != ref["funnel"].get(s)
                         for s in FUNNEL_STAGES)


WORKLOADS = {w.name: w for w in (Backfill, Curate)}
