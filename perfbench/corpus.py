"""Seeded inputs and their reference results, cached under the work dir.

Everything here runs before any clock starts. The reference does not go
through Spark, and as little as it can through the code under test:

* ``oracle.run_pipeline`` gives the per-sink row counts, the ``error`` rows,
  and every ``json_doc`` row whose document fits ``MAX_DOC_BYTES`` (the
  ``xml_doc`` row of such a doc is ``render.xml_from_doc`` of its object);
* only the few documents the byte cap trims (the hot conversations) come
  from ``fastkernel.render_conv``, since the oracle has no trim cascade.

The reference is cached per corpus and per content hash of the package and
this file, so a code change never meets a reference an older tree left.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

HOT_FRAC = 0.001
HOT_TURNS = 2000
MAX_DOC_BYTES = 8192      # PipeConf() default
EVENTS_PER_DOC = 100      # PipeConf() default
MAX_TURNS = 2048          # PipeConf() default
DOC_BATCH = 100           # --events-per-doc 100 on the sql workload
DOC_COLS = ("conv_id", "doc_id", "serial", "time", "n_turns", "doc",
            "trimmed", "error")
ERROR_COLS = ("conv_id", "turn_idx", "error_code", "text")


def rows_digest(rows) -> str:
    """Order-independent digest of an iterable of value tuples."""
    hs = sorted(
        hashlib.sha1(json.dumps(list(r), ensure_ascii=False,
                                default=str).encode()).digest()
        for r in rows
    )
    return hashlib.sha256(b"".join(hs)).hexdigest()


def _gen(n_convs: int, seed: int):
    from transcriptpipe import synth

    return synth.gen_transcripts(n_convs=n_convs, seed=seed,
                                 hot_frac=HOT_FRAC, hot_turns=HOT_TURNS)


def _write_parts(df, paths: list[str], part_of) -> None:
    """Write ``df`` split by ``part_of`` (a row -> file index array) with
    one shared Arrow schema, so an all-null column keeps its string type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.Table.from_pandas(df, preserve_index=False).schema
    for k, path in enumerate(paths):
        tbl = pa.Table.from_pandas(df[part_of == k], schema=schema,
                                   preserve_index=False)
        pq.write_table(tbl, path, row_group_size=50_000)


def kernel_convs(df) -> list[tuple]:
    """``fastkernel.render_conv``'s arguments per conversation, prepared the
    way the arrow engine prepares them (cap, dictionary enrichment, null
    text as "")."""
    import pandas as pd
    from transcriptpipe import oracle

    role_map, tool_map = oracle.ROLE_MAP, oracle.TOOL_MAP
    df = df.sort_values(["conv_id", "turn_idx"], kind="stable")
    convs = []
    for cid, g in df.groupby("conv_id", sort=True):
        capped = bool((g["turn_idx"] >= MAX_TURNS).any())
        g = g[g["turn_idx"] < MAX_TURNS]
        rows = [
            (int(t), role_map.get(r, r), x if isinstance(x, str) else "",
             tl if isinstance(tl, str) else None,
             tool_map.get(tl) if isinstance(tl, str) else None)
            for t, r, x, tl in zip(g["turn_idx"], g["role"], g["text"],
                                   g["tool"])
        ]
        convs.append((cid, rows, pd.Timestamp(g["ts"].min()), capped))
    return convs


def kernel_render(convs: list[tuple]) -> tuple[list[dict], float]:
    """The single-core render loop; returns (records, seconds)."""
    from transcriptpipe import fastkernel

    t0 = time.perf_counter()
    recs = [fastkernel.render_conv(cid, rows, min_ts, capped, MAX_DOC_BYTES,
                                   EVENTS_PER_DOC, True, False)
            for cid, rows, min_ts, capped in convs]
    return [r for r in recs if r is not None], time.perf_counter() - t0


def reference(df) -> dict:
    """Row counts and ``json_doc`` / ``xml_doc`` / ``error`` digests."""
    from transcriptpipe import oracle, render

    rows = df.to_dict("records")
    for r in rows:
        r["ts"] = r["ts"].to_pydatetime()
        for k in ("text", "tool"):
            if not isinstance(r[k], str):
                r[k] = None
    out = oracle.run_pipeline(rows, max_turns_per_conv=MAX_TURNS,
                              events_per_doc=EVENTS_PER_DOC)
    docs = out["json_doc"]
    cut = {d["conv_id"] for d in docs
           if d["trimmed"] or len(d["doc"].encode()) > MAX_DOC_BYTES}
    kept = [d for d in docs if d["conv_id"] not in cut]
    json_rows = [tuple(d[c] for c in DOC_COLS) for d in kept]
    xml_rows = [tuple(render.xml_from_doc(json.loads(d["doc"])) if c == "doc"
                      else d[c] for c in DOC_COLS) for d in kept]
    recs, _ = kernel_render([c for c in kernel_convs(df) if c[0] in cut])
    json_rows += [tuple(r[c] for c in DOC_COLS) for r in recs]
    xml_rows += [tuple(r["xml"] if c == "doc" else r[c] for c in DOC_COLS)
                 for r in recs]
    return {
        "counts": dict(out["counts"]),
        "log_docs": len({d["doc_id"] for d in docs}),
        "kernel_docs": len(recs),
        "json_doc": rows_digest(json_rows),
        "xml_doc": rows_digest(xml_rows),
        "error": rows_digest(tuple(e[c] for c in ERROR_COLS)
                             for e in out["error"]),
        "json_doc_untrimmed": rows_digest((d["conv_id"], d["doc"])
                                          for d in docs),
    }


def code_hash() -> str:
    """Content hash of the package and of this file."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "transcriptpipe", "**",
                                           "*.py"), recursive=True)
                    + [os.path.abspath(__file__)]):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class Corpus:
    """One seeded input set: parquet file(s) plus its cached reference."""

    def __init__(self, work: str, kind: str, n_convs: int, seed: int,
                 n_files: int = 1):
        self.kind, self.n_convs, self.seed, self.n_files = (
            kind, n_convs, seed, n_files)
        self.key = f"{kind}_c{n_convs}_f{n_files}_s{seed}"
        self.dir = os.path.join(work, "corpus", self.key)
        self.input_dir = os.path.join(self.dir, "input")
        self.paths = [os.path.join(self.input_dir, f"part-{k:03d}.parquet")
                      for k in range(n_files)]
        self._ref_path = os.path.join(self.dir,
                                      f"reference-{code_hash()}.json")
        self.ref: dict = {}

    @property
    def input_path(self) -> str:
        return self.paths[0] if self.n_files == 1 else self.input_dir

    def prepare(self) -> "Corpus":
        if os.path.exists(self._ref_path):
            with open(self._ref_path) as f:
                self.ref = json.load(f)
            return self
        import numpy as np

        shutil.rmtree(self.dir, ignore_errors=True)
        df = _gen(self.n_convs, self.seed)
        os.makedirs(self.input_dir)
        if self.n_files == 1:
            part = np.zeros(len(df), dtype=int)
        else:
            # each conversation's turns spread over the files in turn
            # order, so conversations stay open across triggers
            df = df.sort_values(["conv_id", "turn_idx"], kind="stable")
            pos = df.groupby("conv_id").cumcount().to_numpy()
            size = df.groupby("conv_id")["turn_idx"].transform("size")
            part = pos * self.n_files // size.to_numpy()
        _write_parts(df, self.paths, part)
        ref = {"turns": len(df), "convs": int(df["conv_id"].nunique()),
               "bytes": sum(os.path.getsize(p) for p in self.paths)}
        ref.update(reference(df))
        tmp = f"{self._ref_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ref, f)
        os.replace(tmp, self._ref_path)
        self.ref = ref
        return self

    def frame(self):
        """The corpus as one pandas frame (for in-process measurements)."""
        import pandas as pd

        return pd.concat([pd.read_parquet(p) for p in self.paths],
                         ignore_index=True)
