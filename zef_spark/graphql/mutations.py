"""GraphQL mutation surface: add<T> / update<T> / delete<T>.

Reference parity: SimpleGQL generates per-type mutations
``addT(input, upsert)``, ``updateT(input: {filter, set, remove})``,
``deleteT(filter)`` (python/zef/graphql/simplegql/generate_api2.py:
525-700, resolve_add:525, resolve_update:633, resolve_delete:671),
each building graph wishes and running a transaction.

Spark-first design: the table-bound GraphQL model mutates through an
immutable, versioned ``TableStore`` — every mutation compiles to ONE
copy-on-write DataFrame plan (union for add, conditional projection
for update, anti-filter for delete) and pushes a new table version.
Nothing is collected to the driver; the new version is a lazy plan the
next query composes over, exactly like the engine's bitemporal graph
writes (graph/delta.py). ``checkpoint()`` persists a version to
parquet when the lineage gets deep (the Delta-MERGE analogue at
production scale: one atomic swap of the table location).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph.delta import _local_df
from .compiler import FilterCompiler
from .schema import GqlSchema


class TableStore:
    """Versioned name→DataFrame store backing mutable GraphQL types.

    Versions are append-only: ``history[name]`` holds every prior
    plan, ``load(name)`` the current one — the table-level mirror of
    the graph's append-only tx chain."""

    def __init__(self, tables: dict[str, DataFrame]):
        self.tables = dict(tables)
        self.history: dict[str, list[DataFrame]] = {
            n: [] for n in tables}

    def load(self, name: str) -> DataFrame:
        return self.tables[name]

    def swap(self, name: str, df: DataFrame) -> None:
        self.history.setdefault(name, []).append(self.tables.get(name))
        self.tables[name] = df

    def checkpoint(self, name: str, path: str,
                   search_cols: list[str] | None = None) -> None:
        """Materialize the current version (cuts plan lineage after
        many stacked mutations; at scale: the committed table). With
        ``search_cols`` the write is search-clustered
        (pipeline/layout.py write_search_clustered) so parquet
        footer stats become the secondary index for those columns —
        the physical half of GraphQL ``@search``. Engine callers use
        GraphQLEngine.materialize, which passes the type's @search
        fields automatically."""
        spark = self.tables[name].sparkSession
        if search_cols:
            from ..pipeline.layout import write_search_clustered
            write_search_clustered(self.tables[name], path,
                                   search_cols)
        else:
            self.tables[name].write.mode("overwrite").parquet(path)
        self.tables[name] = spark.read.parquet(path)


class MutationExecutor:
    """Compiles one mutation field into a new table version + payload
    DataFrame of the affected rows.

    ``hooks`` mirrors the reference's per-type OnCreate/OnUpdate/
    OnRemove zef-function hooks (generate_api2.py:1328-1348):
    ``{type_name: {"create"|"update"|"remove": fn}}``. A hook runs
    BEFORE the copy-on-write swap and receives the affected-rows
    DataFrame (the set-oriented analogue of the reference's
    per-object call); an exception aborts the mutation with the store
    untouched — same abort semantics as the reference's ExternalError
    path. Graph-stored versioned functions (ops.zef_fn) are plain
    callables, so they slot in directly as governed hooks."""

    def __init__(self, schema: GqlSchema, store: TableStore,
                 hooks: dict | None = None):
        self.schema = schema
        self.store = store
        self.hooks = hooks or {}
        # FilterCompiler resolves TYPE names; the store holds TABLE names
        self._load = lambda tname: store.load(schema[tname].table)

    def _run_hook(self, tname: str, kind: str, payload: DataFrame):
        fn = (self.hooks.get(tname) or {}).get(kind)
        if fn is None:
            return
        try:
            fn(payload)
        except Exception as e:
            raise RuntimeError(
                f"On{kind.capitalize()} hook for {tname!r} raised; "
                f"mutation aborted: {e}") from e

    # -- add ----------------------------------------------------------

    def _check_required(self, t, inputs):
        for item in inputs:
            missing = sorted(f for f in t.required
                             if item.get(f) is None)
            if missing:
                raise ValueError(
                    f"add{t.name}: @required field(s) {missing} "
                    "missing or null in input")

    def _check_unique(self, t, inputs, cur, exclude_ids=None):
        """One bounded scan per @unique field: incoming values must
        not collide among themselves or with stored rows (minus rows
        an upsert is about to replace)."""
        for f in sorted(t.unique):
            vals = [item[f] for item in inputs
                    if item.get(f) is not None]
            if len(vals) != len(set(vals)):
                raise ValueError(
                    f"add{t.name}: duplicate @unique {f!r} values "
                    "within one input batch")
            if not vals:
                continue
            scan = cur.where(F.col(t.fields[f]).isin(vals))
            if exclude_ids:
                scan = scan.where(~F.col(t.id_col).isin(exclude_ids))
            hit = scan.select(t.fields[f]).limit(1).take(1)
            if hit:
                raise ValueError(
                    f"add{t.name}: @unique {f!r} value "
                    f"{hit[0][0]!r} already exists")

    def add(self, tname: str, inputs, upsert: bool = False) -> DataFrame:
        """addT(input, upsert) — append rows (gql field names); with
        upsert, incoming ids replace existing rows (generate_api2.py:
        525 semantics: merge on id when upsert else always create).
        @required fields must be present and non-null; @unique fields
        are enforced against the batch and the stored table."""
        t = self.schema[tname]
        if isinstance(inputs, dict):
            inputs = [inputs]
        cur = self.store.load(t.table)
        self._check_required(t, inputs)
        id_field = next((f for f, c in t.fields.items()
                         if c == t.id_col), None)
        excl = ([item[id_field] for item in inputs
                 if item.get(id_field) is not None]
                if upsert and id_field else None)
        self._check_unique(t, inputs, cur, exclude_ids=excl)
        rows = [{t.fields[k]: v for k, v in item.items()}
                for item in inputs]
        given = list(dict.fromkeys(c for r in rows for c in r))
        rows = [{c: r.get(c) for c in given} for r in rows]
        new = _local_df(cur.sparkSession, [tuple(r.values()) for r in rows],
                        cur.select(*given).schema)
        missing = [c for c in cur.columns if c not in new.columns]
        new = new.select("*", *[F.lit(None).cast(dict(cur.dtypes)[c])
                                .alias(c) for c in missing])
        if upsert:
            ids = [r[t.id_col] for r in rows if t.id_col in r]
            cur = cur.where(~F.col(t.id_col).isin(ids) if ids
                            else F.lit(True))
        out = cur.unionByName(new.select(*cur.columns))
        payload = new.select(*cur.columns)
        self._run_hook(tname, "create", payload)
        self.store.swap(t.table, out)
        return payload

    # -- upfetch ------------------------------------------------------

    def upfetch(self, tname: str, inputs) -> DataFrame:
        """upfetchT(input) — merge keyed on the type's @upfetch
        (unique) field: rows whose unique value exists UPDATE the
        provided fields; the rest are CREATED (reference
        generate_api2.py upfetch resolver: "update if found by the
        upfetch field, else create"; no id in the input). One
        copy-on-write plan: left-join current⟷inputs coalescing
        provided fields, union the anti-joined new rows."""
        t = self.schema[tname]
        if t.upfetch_field is None:
            raise ValueError(f"{tname} has no @upfetch field")
        key = t.fields[t.upfetch_field]
        if isinstance(inputs, dict):
            inputs = [inputs]
        cur = self.store.load(t.table)
        rows = [{t.fields[kk]: v for kk, v in item.items()}
                for item in inputs]
        if any(key not in r for r in rows):
            raise ValueError(
                f"every upfetch{tname} input needs {t.upfetch_field!r}")
        given = list(dict.fromkeys(c for r in rows for c in r))
        rows = [{c: r.get(c) for c in given} for r in rows]
        upd = _local_df(cur.sparkSession, [tuple(r.values()) for r in rows],
                        cur.select(*given).schema)
        marked = upd.select(
            F.col(key),
            *[F.col(c).alias(f"__up_{c}") for c in given if c != key],
            F.lit(True).alias("__hit"))
        merged = cur.join(marked, key, "left").select(*[
            (F.when(F.col("__hit") & F.col(f"__up_{c}").isNotNull(),
                    F.col(f"__up_{c}")).otherwise(F.col(c)).alias(c)
             if c != key and c in given else F.col(c))
            for c in cur.columns])
        fresh = upd.join(cur.select(key), key, "left_anti")
        missing = [c for c in cur.columns if c not in fresh.columns]
        fresh = fresh.select(
            "*", *[F.lit(None).cast(dict(cur.dtypes)[c]).alias(c)
                   for c in missing]).select(*cur.columns)
        # payload: the post-merge view of every input-keyed row
        keys = [r[key] for r in rows]
        payload = (merged.unionByName(fresh)
                   .where(F.col(key).isin(keys)))
        # upfetch is merge-or-create; the update hook governs it
        self._run_hook(tname, "update", payload)
        self.store.swap(t.table, merged.unionByName(fresh))
        return payload

    # -- update -------------------------------------------------------

    def update(self, tname: str, filter_arg, set_arg: dict | None = None,
               remove: list | None = None) -> DataFrame:
        """updateT(input: {filter, set, remove}) — one conditional
        projection: matched rows get set-values / NULLed removed
        fields, unmatched pass through untouched (generate_api2.py:633;
        the reference walks matches and issues per-object assigns —
        here it is a single column-wise plan, no row iteration).
        @required fields can't be removed or set null; setting a
        @unique field checks the target value is free and the filter
        matches at most one row."""
        t = self.schema[tname]
        cur = self.store.load(t.table)
        bad_rm = sorted(set(remove or []) & t.required)
        if bad_rm:
            raise ValueError(
                f"update{tname}: can't remove @required {bad_rm}")
        bad_set = sorted(f for f, v in (set_arg or {}).items()
                         if f in t.required and v is None)
        if bad_set:
            raise ValueError(
                f"update{tname}: can't null @required {bad_set}")
        uniq_sets = {f: v for f, v in (set_arg or {}).items()
                     if f in t.unique and v is not None}
        if uniq_sets:
            ids = self._matched_ids(tname, cur, filter_arg)
            n = ids.limit(2).count()
            if n > 1:
                raise ValueError(
                    f"update{tname}: setting @unique "
                    f"{sorted(uniq_sets)} on {n}+ matched rows")
            if n == 0:                 # no-op update: nothing to check
                uniq_sets = {}
            for f, v in sorted(uniq_sets.items()):
                clash = (cur.join(ids, t.id_col, "left_anti")
                         .where(F.col(t.fields[f]) == F.lit(v))
                         .limit(1).take(1))
                if clash:
                    raise ValueError(
                        f"update{tname}: @unique {f!r} value {v!r} "
                        "already exists on another row")
        flagged, match = self._flagged(tname, cur, filter_arg)
        touched = {}
        for k, v in (set_arg or {}).items():
            touched[t.fields[k]] = F.lit(v)
        for k in (remove or []):
            col = t.fields[k]
            touched[col] = F.lit(None).cast(dict(cur.dtypes)[col])
        out = flagged.select(*[
            F.when(match, touched[c]).otherwise(F.col(c)).alias(c)
            if c in touched else F.col(c)
            for c in cur.columns])
        payload = out.join(self._matched_ids(tname, cur, filter_arg),
                           t.id_col, "left_semi")
        self._run_hook(tname, "update", payload)
        self.store.swap(t.table, out)
        return payload

    # -- delete -------------------------------------------------------

    def delete(self, tname: str, filter_arg) -> DataFrame:
        """deleteT(filter) — anti-filter; payload = the removed rows
        (pre-delete view, generate_api2.py:671)."""
        t = self.schema[tname]
        cur = self.store.load(t.table)
        ids = self._matched_ids(tname, cur, filter_arg)
        removed = cur.join(ids, t.id_col, "left_semi")
        self._run_hook(tname, "remove", removed)
        self.store.swap(t.table, cur.join(ids, t.id_col, "left_anti"))
        return removed

    # -- internals ----------------------------------------------------

    def _matched_ids(self, tname: str, df: DataFrame,
                     filter_arg) -> DataFrame:
        """Filter dict → DataFrame of matching ids (the distributed
        match set; joins stay semi/anti — nothing is collected)."""
        t = self.schema[tname]
        filtered = FilterCompiler(self.schema, self._load).apply(
            tname, df, filter_arg) if filter_arg else df
        return filtered.select(t.id_col).distinct()

    def _flagged(self, tname: str, df: DataFrame, filter_arg
                 ) -> tuple[DataFrame, F.Column]:
        """df + boolean match Column via a flag join on the match-id
        set (the update path needs per-row truth, not a subset)."""
        t = self.schema[tname]
        if not filter_arg:
            return df, F.lit(True)
        ids = self._matched_ids(tname, df, filter_arg) \
            .withColumn("__gql_upd", F.lit(True))
        return (df.join(ids, t.id_col, "left"),
                F.coalesce(F.col("__gql_upd"), F.lit(False)))
