"""Warehouse catalog: db / namespace / metric layout + schema registry.

Layout (SURVEY.md §1.6):  <root>/<db>/<namespace>/<metric>/
    schema.json   — union-merged MetricSchema (Schema.scala parity)
    meta.json     — shardInterval ms + retention ms (MetricInfo.scala:30)
    data/shard_start=<n>/*.parquet — natural-time partitions
      (shard_start = floor(timestamp / interval) * interval,
       MetadataCoordinator.scala:89-91)
    rollups/registry.json + rollups/<store>/ — materialized rollups
    .staging/ — in-flight writes: appended shard files, published by
      renaming each into data/ (Warehouse.append_shards), and rewritten
      directories, swapped in by rename (Warehouse._swap)

The partition listing doubles as NSDb's "locations" metadata: temporal
queries derive bucket bounds from it without touching data
(ReadCoordinator.scala:210-214 analogue).
"""
from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import re
import shutil
import tempfile
import threading
import time

from .model import DEFAULT_SHARD_INTERVAL_MS, SHARD_COL, MetricSchema, SchemaError


class MetricNotFound(Exception):
    pass


def footer_stats(files: list[str]) -> tuple | None:
    """(rows, NULL timestamps, NULL values, min timestamp, max timestamp)
    of a set of shard files, from their parquet footers alone (no data
    page is read); None when a footer lacks a statistic this needs."""
    import pyarrow.parquet as pq

    rows = ts_nulls = value_nulls = 0
    lo = hi = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).path for i in range(md.num_columns)]
        ts, value = names.index("timestamp"), names.index("value")
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            ts_s, value_s = rg.column(ts).statistics, rg.column(value).statistics
            if ts_s is None or value_s is None or not (
                ts_s.has_null_count and value_s.has_null_count
            ):
                return None
            ts_nulls += ts_s.null_count
            value_nulls += value_s.null_count
            if ts_s.has_min_max:
                lo = ts_s.min if lo is None else min(lo, ts_s.min)
                hi = ts_s.max if hi is None else max(hi, ts_s.max)
            elif ts_s.null_count < rg.num_rows:
                return None
    return rows, ts_nulls, value_nulls, lo, hi


@dataclasses.dataclass(frozen=True)
class RollupSpec:
    """One materialized rollup of a metric (operators/rollup.py): its kind
    ("temporal", "group", "quantile" or "hll"), the field it is keyed on
    (group, hll), its bucket grain (temporal, quantile, hll), the
    (lower, upper] time axis it was pinned to at build, and the kind's own
    parameters: the pinned value grid (quantile) and the HLL precision."""

    kind: str
    field: str | None = None
    fine_ms: int | None = None
    bounds: tuple[int, int] | None = None
    value_range: tuple[float, float] | None = None
    nbins: int | None = None
    p: int | None = None

    @property
    def store(self) -> str:
        """The store directory name under <metric>/rollups/."""
        return {
            "temporal": f"{self.fine_ms}",
            "group": f"group_{self.field}",
            "quantile": f"q_{self.fine_ms}",
            "hll": f"hll_{self.field}_{self.fine_ms}",
        }[self.kind]


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # schema updates are read-modify-write; concurrent inserts from
        # the threaded HTTP server adding DIFFERENT new fields must not
        # lose one side's registration (data already written under the
        # lost field would read as NULL forever)
        self._schema_lock = threading.Lock()
        # rollup registrations are the same read-modify-write pattern over
        # registry.json: two concurrent materializations (different
        # grains/fields for one metric) must not lose one side's entry —
        # the loser's rollup data would sit on disk never routed to
        self._rollup_meta_lock = threading.Lock()
        self._metric_locks: dict[tuple[str, str, str], threading.Lock] = {}
        self._metric_locks_guard = threading.Lock()

    def metric_lock(self, db: str, ns: str, metric: str) -> threading.Lock:
        """The per-metric lock that serializes every change to a metric's
        shard files and rollup stores. append_shards holds it while it
        publishes; the engine holds it over each rollup
        read-build-swap-register sequence (insert maintenance, the
        materialize builders) and each shard rewrite from its read to its
        swap (DELETE, retention eviction, compaction, Z-order). So no file
        is published between a rewrite's read and its swap (the swap would
        move it aside with the old directory and delete it), a materialize
        cannot interleave with a maintenance merge (which would clobber a
        fresh build with a merge of stale state), and neither with a shard
        swap. Not reentrant: append_shards must not be called under it.
        Entries are never evicted — a few hundred bytes per metric ever
        written, bounded by the catalog size."""
        key = (db, ns, metric)
        with self._metric_locks_guard:
            return self._metric_locks.setdefault(key, threading.Lock())

    # -- paths ----------------------------------------------------------
    #: filesystem-safe identifier: no separators, no traversal, no dot
    #: prefix. SQL-parsed names are already regex-constrained; this guards
    #: the HTTP/API surfaces, where db/namespace/metric arrive as raw
    #: client strings and are joined straight into warehouse paths —
    #: "../../tmp/x" must be an error, not a write outside the root.
    _NAME_RE = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.\-]*$")

    @classmethod
    def _safe(cls, name: str) -> str:
        # the regex alone is sufficient: no path separators can appear, so
        # an interior ".." (e.g. "a..b") is just a funny directory name,
        # not traversal — and the whole-string "..", "." cases fail the
        # leading-character class anyway
        if not cls._NAME_RE.match(name):
            raise ValueError(f"invalid identifier {name!r}")
        return name

    def metric_path(self, db: str, ns: str, metric: str) -> str:
        return os.path.join(
            self.root, self._safe(db), self._safe(ns), self._safe(metric)
        )

    def data_path(self, db: str, ns: str, metric: str) -> str:
        return os.path.join(self.metric_path(db, ns, metric), "data")

    # -- listing ---------------------------------------------------------
    def databases(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def namespaces(self, db: str) -> list[str]:
        p = os.path.join(self.root, self._safe(db))
        if not os.path.isdir(p):
            return []
        return sorted(d for d in os.listdir(p) if os.path.isdir(os.path.join(p, d)))

    def metrics(self, db: str, ns: str) -> list[str]:
        p = os.path.join(self.root, self._safe(db), self._safe(ns))
        if not os.path.isdir(p):
            return []
        # a restore stages under <ns>/.staging, which is no metric
        return sorted(
            d for d in os.listdir(p)
            if self._NAME_RE.match(d) and os.path.isdir(os.path.join(p, d))
        )

    def exists(self, db: str, ns: str, metric: str) -> bool:
        return os.path.isfile(os.path.join(self.metric_path(db, ns, metric), "schema.json"))

    # -- schema registry --------------------------------------------------
    def get_schema(self, db: str, ns: str, metric: str) -> MetricSchema:
        p = os.path.join(self.metric_path(db, ns, metric), "schema.json")
        if not os.path.isfile(p):
            raise MetricNotFound(f"{db}.{ns}.{metric}")
        with open(p) as fh:
            return MetricSchema.from_json(fh.read())

    def update_schema(self, db: str, ns: str, metric: str, incoming: MetricSchema) -> MetricSchema:
        """Union-merge the registry schema with an incoming one; rejects
        type conflicts (Schema.union parity, Schema.scala:116-129). Atomic
        via write-then-rename."""
        mp = self.metric_path(db, ns, metric)
        os.makedirs(mp, exist_ok=True)
        p = os.path.join(mp, "schema.json")
        with self._schema_lock:
            if os.path.isfile(p):
                with open(p) as fh:
                    merged = MetricSchema.from_json(fh.read()).union(incoming)
            else:
                merged = incoming
            self._write_json(p, merged.to_dict(), indent=2)
        return merged

    @staticmethod
    def _write_json(path: str, obj, **dump_kw) -> None:
        """Replace the JSON file at path atomically: dump to a fresh temp
        file beside it, then os.replace — a concurrent reader sees the old
        document or the new one, never a truncated one."""
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(obj, fh, **dump_kw)
            os.replace(tmp, path)
        except BaseException:
            os.unlink(tmp)
            raise

    # -- metric info (INIT METRIC parity: init.proto:22-41) ----------------
    def get_info(self, db: str, ns: str, metric: str) -> dict:
        p = os.path.join(self.metric_path(db, ns, metric), "meta.json")
        if os.path.isfile(p):
            with open(p) as fh:
                return json.load(fh)
        return {"shardInterval": DEFAULT_SHARD_INTERVAL_MS, "retention": 0}

    def init_metric(
        self, db: str, ns: str, metric: str,
        shard_interval_ms: int | None = None, retention_ms: int = 0,
    ) -> None:
        """Set the metric's shardInterval (None keeps the current one) and
        retention. A metric with data keeps its shardInterval: every
        shard-pruning path (compiler.touched_shards) assumes the shard
        starts on disk are aligned to the current interval."""
        si = self.get_info(db, ns, metric)["shardInterval"]
        if shard_interval_ms is None:
            shard_interval_ms = si
        elif shard_interval_ms != si and self.locations(db, ns, metric):
            raise ValueError(
                f"{db}.{ns}.{metric} has data sharded at {si} ms; "
                f"its shardInterval cannot change to {shard_interval_ms} ms"
            )
        mp = self.metric_path(db, ns, metric)
        os.makedirs(mp, exist_ok=True)
        self._write_json(
            os.path.join(mp, "meta.json"),
            {"shardInterval": shard_interval_ms, "retention": retention_ms},
        )

    def mtimes(self, db: str, ns: str, metric: str) -> tuple[int, int]:
        """mtime_ns of schema.json and of data/ (-1 when missing): the
        marks of out-of-process change in NsdbEngine._cache_token. Every
        insert rewrites schema.json and, once its rows are visible, moves
        data/'s mark (append_shards); every shard swapped or removed
        renames an entry of data/."""
        mp = self.metric_path(db, ns, metric)
        marks = []
        for p in (os.path.join(mp, "schema.json"), os.path.join(mp, "data")):
            try:
                marks.append(os.stat(p).st_mtime_ns)
            except OSError:
                marks.append(-1)
        return tuple(marks)

    # -- locations (shard partition listing) -------------------------------
    _SHARD_RE = re.compile(r"^shard_start=(-?\d+)$")

    def locations(self, db: str, ns: str, metric: str) -> list[int]:
        """shard_start values present on disk — the pruning metadata."""
        dp = self.data_path(db, ns, metric)
        if not os.path.isdir(dp):
            return []
        out = []
        for d in os.listdir(dp):
            m = self._SHARD_RE.match(d)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def shard_files(self, db: str, ns: str, metric: str, shards: list[int]) -> list[str]:
        """The parquet files of the listed shards, in shard order and by
        name within a shard (hidden files skipped, as Spark's listing
        skips them); a shard directory that is gone lists nothing."""
        dp = self.data_path(db, ns, metric)
        out = []
        for start in sorted(shards):
            sd = os.path.join(dp, f"{SHARD_COL}={start}")
            try:
                names = sorted(os.listdir(sd))
            except FileNotFoundError:
                continue
            out += [
                os.path.join(sd, n) for n in names
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
        return out

    def shard_stats(self, db: str, ns: str, metric: str) -> list[dict]:
        """Per-shard location descriptors — the Location(metric, node,
        from, to) listing of the reference's GetLiveLocations
        (nsdb-core/src/main/scala/io/radicalbit/nsdb/model/Location.scala:32,
        served over HTTP by CommandApi.scala's /locations route), enriched
        with the physical stats the Parquet layout gives for free: file
        count, byte size, and exact row count from the parquet FOOTERS
        (pyarrow metadata read — no data pages touched, so this stays
        cheap on a 100 TB metric: O(files) footer reads, zero scans)."""
        if not self.exists(db, ns, metric):
            raise MetricNotFound(f"{db}.{ns}.{metric}")
        import pyarrow.parquet as pq

        interval = self.get_info(db, ns, metric)["shardInterval"]
        out = []
        for start in self.locations(db, ns, metric):
            files = self.shard_files(db, ns, metric, [start])
            rows = 0
            size = 0
            for f in files:
                rows += pq.ParquetFile(f).metadata.num_rows
                size += os.path.getsize(f)
            out.append(
                {
                    "shard_start": start,
                    "from": start,
                    "to": start + interval - 1,
                    "n_files": len(files),
                    "bytes": size,
                    "rows": rows,
                }
            )
        return out

    # -- rollup registry ----------------------------------------------------
    # <metric>/rollups/registry.json maps each store directory name
    # (RollupSpec.store) to that rollup's spec; the store itself is
    # <metric>/rollups/<store>. One rollups dir holds every kind, so
    # invalidate_rollups drops all stores and their registrations at once
    # — the engine then serves raw until a re-materialization.
    def _rollups_dir(self, db: str, ns: str, metric: str) -> str:
        return os.path.join(self.metric_path(db, ns, metric), "rollups")

    def rollup_path(self, db: str, ns: str, metric: str, spec: RollupSpec) -> str:
        return os.path.join(self._rollups_dir(db, ns, metric), spec.store)

    def register_rollup(self, db: str, ns: str, metric: str, spec: RollupSpec) -> None:
        """Add spec, replacing any registered spec with the same store."""
        with self._rollup_meta_lock:
            specs = {s.store: s for s in self.rollups(db, ns, metric)}
            specs[spec.store] = spec
            p = os.path.join(self._rollups_dir(db, ns, metric), "registry.json")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            self._write_json(p, {k: dataclasses.asdict(s) for k, s in specs.items()})

    def rollups(self, db: str, ns: str, metric: str) -> list[RollupSpec]:
        p = os.path.join(self._rollups_dir(db, ns, metric), "registry.json")
        if not os.path.isfile(p):
            return []
        with open(p) as fh:
            raw = json.load(fh)
        return [
            RollupSpec(**{k: tuple(v) if isinstance(v, list) else v for k, v in d.items()})
            for d in raw.values()
        ]

    def invalidate_rollups(self, db: str, ns: str, metric: str) -> None:
        with self._rollup_meta_lock:
            d = self._rollups_dir(db, ns, metric)
            if os.path.isdir(d):
                shutil.rmtree(d)

    # -- appends and rewrites ----------------------------------------------
    # Every write into a warehouse directory (shard files appended, shards
    # rewritten or evicted, rollup stores built or merged, a restored
    # metric) is staged under <owner>/.staging — the metric directory, or
    # the namespace directory for a restore — so its publication is a
    # rename on one filesystem, outside data/ partition discovery and the
    # metric listing.
    _STAGING = ".staging"

    @contextlib.contextmanager
    def _staging(self, owner: str):
        """A fresh staging directory under owner/.staging, removed on exit
        with whatever is left in it. When this call creates owner (the
        first write of a metric), owner and the parents it created are
        removed again if they are left empty, so a rejected first write
        leaves no directory behind for the listings to show."""
        root = os.path.join(owner, self._STAGING)
        made, d = [], owner
        while not os.path.isdir(d):
            made.append(d)
            d = os.path.dirname(d)
        while True:
            try:
                os.makedirs(root, exist_ok=True)
                stage = tempfile.mkdtemp(dir=root)
                break
            except FileNotFoundError:
                continue  # a concurrent exit removed the empty directories
        try:
            yield stage
        finally:
            shutil.rmtree(stage, ignore_errors=True)
            if made:
                with contextlib.suppress(OSError):
                    for d in (root, *made):
                        os.rmdir(d)

    def append_shards(self, db: str, ns: str, metric: str, write, check=None) -> list[str]:
        """Add the rows that write(path) stages at path, partitioned by
        shard_start, to the metric's shards; returns the published files.
        check(files), when given, runs first on the staged parquet files;
        if write or check raises, nothing is published. Then, under
        metric_lock, each file is renamed into data/shard_start=<n>/ (its
        name, unique per write job, is kept), and once all are in, data/'s
        mark is moved: mtimes changes only after the rows are visible."""
        dp = self.data_path(db, ns, metric)
        with self._staging(self.metric_path(db, ns, metric)) as stage:
            out = os.path.join(stage, "new")
            write(out)
            staged = sorted(
                glob.glob(os.path.join(glob.escape(out), f"{SHARD_COL}=*", "*.parquet"))
            )
            if check is not None:
                check(staged)
            published = []
            with self.metric_lock(db, ns, metric):
                for f in staged:
                    shard = os.path.join(dp, os.path.basename(os.path.dirname(f)))
                    os.makedirs(shard, exist_ok=True)
                    dst = os.path.join(shard, os.path.basename(f))
                    os.rename(f, dst)
                    published.append(dst)
                if published:
                    # file timestamps come from a coarse kernel clock: two
                    # appends inside one tick would leave the same mark
                    t = max(time.time_ns(), os.stat(dp).st_mtime_ns + 1)
                    os.utime(dp, ns=(t, t))
        return published

    @staticmethod
    def _swap(new: str, dst: str, stage: str) -> None:
        """Replace directory dst by new, or remove it when new does not
        exist: dst is renamed aside into stage, new renamed in (dst renamed
        back if that fails), then the old tree removed. A reader sees the
        old tree or the new one, never a mix; between the renames, none."""
        aside = os.path.join(stage, "old-" + os.path.basename(dst))
        had = os.path.isdir(dst)
        if had:
            os.rename(dst, aside)
        if os.path.isdir(new):
            try:
                os.rename(new, dst)
            except BaseException:
                if had:
                    os.rename(aside, dst)
                raise
        if had:
            shutil.rmtree(aside, ignore_errors=True)

    def rewrite_shards(self, db: str, ns: str, metric: str, shards, write) -> None:
        """Replace the listed shard directories by what write(path) stages
        at path, partitioned by shard_start. A listed shard with no staged
        rows is removed; shards not listed are untouched. If write raises,
        nothing is swapped."""
        dp = self.data_path(db, ns, metric)
        with self._staging(self.metric_path(db, ns, metric)) as stage:
            out = os.path.join(stage, "new")
            write(out)
            for s in shards:
                name = f"{SHARD_COL}={s}"
                self._swap(os.path.join(out, name), os.path.join(dp, name), stage)

    def rewrite_rollup(self, db: str, ns: str, metric: str, spec: RollupSpec, write) -> None:
        """Create or replace spec's store by what write(path) writes at
        path. If write raises, the old store stays."""
        dst = self.rollup_path(db, ns, metric, spec)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with self._staging(self.metric_path(db, ns, metric)) as stage:
            out = os.path.join(stage, "new")
            write(out)
            self._swap(out, dst, stage)

    # -- dump / restore -----------------------------------------------------
    # Parity surface: the reference ships a restore tool + rpc endpoint
    # (nsdb-cli/src/main/scala/io/radicalbit/nsdb/cli/NsdbRestore.scala,
    # nsdb-rpc/src/main/protobuf/restore.proto) that imports a previously
    # exported bundle. Here a bundle is the metric directory tree
    # (schema.json + meta.json + data/shard_start=* + rollups/*) plus a
    # manifest.json inventory; restore validates the manifest and swaps
    # the tree into place with _swap (a reader sees the old metric or the
    # new one, never a half-copied mix).
    BUNDLE_FORMAT = 1
    _BUNDLE_MANIFEST = "manifest.json"

    def dump_metric(self, db: str, ns: str, metric: str, dest: str) -> dict:
        """Export one metric as a self-describing bundle directory at
        `dest` (must not exist). The schema/meta/rollup registry files are
        snapshotted under the registry locks (consistent with each other);
        data shard directories are copied as-is — quiesce writers for a
        point-in-time data snapshot (every shard rewrite is a rename swap,
        _swap, so a racing rewrite surfaces as a copy error, not a shard
        copied half old and half new). Staging is not copied. Returns the
        manifest dict."""
        if not self.exists(db, ns, metric):
            raise MetricNotFound(f"{db}.{ns}.{metric}")
        if os.path.exists(dest):
            raise ValueError(f"dump destination already exists: {dest}")
        src = self.metric_path(db, ns, metric)
        tmp = dest + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        with self._schema_lock, self._rollup_meta_lock:
            shutil.copytree(src, tmp, ignore=shutil.ignore_patterns(self._STAGING))
        inventory = {}
        total = 0
        for base, _dirs, files in os.walk(tmp):
            for f in files:
                p = os.path.join(base, f)
                rel = os.path.relpath(p, tmp)
                size = os.path.getsize(p)
                inventory[rel] = size
                total += size
        manifest = {
            "format": self.BUNDLE_FORMAT,
            "db": db,
            "namespace": ns,
            "metric": metric,
            "shard_starts": self.locations(db, ns, metric),
            "info": self.get_info(db, ns, metric),
            "n_files": len(inventory),
            "total_bytes": total,
            "files": inventory,
        }
        mpath = os.path.join(tmp, self._BUNDLE_MANIFEST)
        with open(mpath, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.rename(tmp, dest)
        return manifest

    def restore_metric(
        self,
        bundle: str,
        db: str | None = None,
        ns: str | None = None,
        metric: str | None = None,
        overwrite: bool = False,
    ) -> dict:
        """Import a dump_metric bundle. Target identity defaults to the
        manifest's; pass db/ns/metric to restore under a different name.
        The bundle is verified (manifest format, file inventory
        byte-for-byte sizes, parseable schema), then staged under the
        namespace's .staging and swapped in (_swap) — a truncated or
        tampered bundle never becomes visible. Refuses an existing target
        unless overwrite."""
        mpath = os.path.join(bundle, self._BUNDLE_MANIFEST)
        if not os.path.isfile(mpath):
            raise ValueError(f"not a metric bundle (no manifest): {bundle}")
        with open(mpath) as fh:
            manifest = json.load(fh)
        if manifest.get("format") != self.BUNDLE_FORMAT:
            raise ValueError(
                f"unsupported bundle format {manifest.get('format')!r}"
            )
        db = self._safe(db or manifest["db"])
        ns = self._safe(ns or manifest["namespace"])
        metric = self._safe(metric or manifest["metric"])
        target = self.metric_path(db, ns, metric)
        if os.path.exists(target) and not overwrite:
            raise ValueError(
                f"metric {db}.{ns}.{metric} already exists (pass overwrite=True)"
            )
        # verify inventory against the on-disk bundle before touching the
        # warehouse
        for rel, size in manifest["files"].items():
            p = os.path.join(bundle, rel)
            if not os.path.isfile(p) or os.path.getsize(p) != size:
                raise ValueError(f"bundle file missing or truncated: {rel}")
        schema_p = os.path.join(bundle, "schema.json")
        if not os.path.isfile(schema_p):
            raise ValueError("bundle has no schema.json")
        with open(schema_p) as fh:
            MetricSchema.from_json(fh.read())  # raises on corruption
        ns_dir = os.path.dirname(target)
        os.makedirs(ns_dir, exist_ok=True)
        with self._staging(ns_dir) as stage:
            new = os.path.join(stage, "new")
            shutil.copytree(
                bundle, new,
                ignore=shutil.ignore_patterns(self._BUNDLE_MANIFEST),
            )
            with self._schema_lock, self._rollup_meta_lock:
                self._swap(new, target, stage)
        out = dict(manifest)
        out.update({"db": db, "namespace": ns, "metric": metric})
        return out

    # -- drop / retention ---------------------------------------------------
    def drop_metric(self, db: str, ns: str, metric: str) -> None:
        p = self.metric_path(db, ns, metric)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def drop_shards_older_than(self, db: str, ns: str, metric: str, threshold_ms: int) -> list[int]:
        """Retention eviction: drop whole shards whose upper bound is below
        the threshold (MetadataCoordinator.scala:335-348 analogue)."""
        si = self.get_info(db, ns, metric)["shardInterval"]
        dropped = [
            s for s in self.locations(db, ns, metric) if s + si <= threshold_ms
        ]
        if dropped:
            self.rewrite_shards(db, ns, metric, dropped, lambda _path: None)
        return dropped
