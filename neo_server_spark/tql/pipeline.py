"""TQL pipeline DSL: SRC -> MAP* -> SINK as a fluent DataFrame builder.

The reference compiles a TQL script into a linked list of goroutine nodes
(mods/tql/task.go:202-312, script_validate.go:5-41 enforces SRC/MAP/SINK
roles).  Here "compile" = build one lazy DataFrame plan (Catalyst's logical
plan IS the IR) and "execute" = a single action in the sink — node/channel
hops become Catalyst stages.

Record model: TQL records are (key, value...) tuples (task_record.go:27-32);
the pipeline DataFrame's column 0 plays the key when key operators are used.
Order-sensitive operators take explicit series/order arguments (SURVEY §4.2a).

Example::

    Tql(spark, sf_dir) \
        .sql_select("value", table="events", tag="purchase",
                    between=(t0, t1)) \
        .mapvalue(2, "value * 2", "doubled") \
        .take(10, order_by=["time"]) \
        .csv()
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from neo_server_spark import io as nio
from neo_server_spark.codecs import encoders
from neo_server_spark.operators import group as G
from neo_server_spark.operators import maps as M
from neo_server_spark.operators import series as S
from neo_server_spark.operators import stats as ST
from neo_server_spark.session import session_catalog
from neo_server_spark.tql import fake as FK


class Tql:
    """Source factory — the SRC statements (SURVEY §2.1)."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None,
                 tables: dict[str, DataFrame] | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables = dict(tables or {})

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        if self.sf_dir is None:
            raise ValueError(f"unknown table {name!r} and no sf_dir configured")
        df = nio.load_table(self.spark, self.sf_dir, name)
        self._tables[name] = df
        return df

    def register(self, name: str, df: DataFrame) -> "Tql":
        self._tables[name] = df
        return self

    # -------------------------------------------------------------- sources

    def sql(self, query: str) -> "Pipeline":
        """SQL('select ...') — run SQL against registered temp views
        (fm_dbsrc.go:312-384 → spark.sql).  The shared TESTDATA views come
        first, so a table given to ``register()`` wins over one of the
        same name on every call."""
        if self.sf_dir is not None:
            nio.register_views(self.spark, self.sf_dir)
        for name, df in self._tables.items():
            session_catalog(self.spark).put_view(name, df)
        return Pipeline(self.spark.sql(query))

    def sql_select(
        self,
        *columns: str,
        table: str,
        tag: str | Sequence[str] | None = None,
        between: tuple[int, int] | None = None,
        limit: int | None = None,
        name_col: str = "name",
        time_col: str = "time",
        descending: bool = False,
    ) -> "Pipeline":
        """SQL_SELECT(cols..., from(table, tag), between(a, b), limit(n)) —
        the tag-scan SQL builder (fm_dbsrc.go:16-53, builder 93-227).

        Tag + time predicates are plain filters → parquet pushdown /
        partition pruning; ``descending`` maps the SCAN_BACKWARD hint
        (http_lake.go:469) to orderBy desc.
        """
        df = self.table(table)
        if table == "events" and name_col not in df.columns:
            # route the time range to the source: pushdown-guaranteed
            # row-group pruning on the physical ts column (io.scan_time_range)
            if between is not None:
                df = nio.events_as_tag(self.spark, self.sf_dir,
                                       from_ns=between[0], until_ns=between[1],
                                       until_inclusive=True)
                between = None
            else:
                df = nio.events_as_tag(self.spark, self.sf_dir)
        if tag is not None:
            tags = [tag] if isinstance(tag, str) else list(tag)
            df = df.filter(F.col(name_col).isin(tags))
        if between is not None:
            df = df.filter(F.col(time_col).between(*between))
        cols = [name_col, time_col, *columns] if columns else df.columns
        df = df.select(*dict.fromkeys(cols))
        order = [F.col(time_col).desc() if descending else F.col(time_col)]
        if limit is not None:
            df = df.orderBy(*order).limit(limit)
        return Pipeline(df)

    def query(self, value_col: str, **kwargs) -> "Pipeline":
        """QUERY(value, from(...), between(...)) — value-first variant
        (fm_dbsrc.go:56-91)."""
        return self.sql_select(value_col, **kwargs)

    def csv(self, path: str, schema: str | None = None, header: bool = False,
            charset: str | None = None, infer: bool | None = None) -> "Pipeline":
        """CSV(file(...)) source (fm_csv.go:25-305).

        ``charset`` maps the charset("EUC-JP") option (fm_bytes.go:17-24) to
        the reader's encoding; untyped columns stay strings like the
        reference (pass ``schema`` for field()/col() coercions, or
        ``infer=True`` to let Spark type them).
        """
        reader = self.spark.read.option("header", header)
        if charset:
            if charset.lower() not in {"iso-8859-1", "us-ascii", "utf-16",
                                       "utf-16be", "utf-16le", "utf-32", "utf-8"}:
                # Spark 4 gates non-core charsets (EUC-KR/EUC-JP/... — the
                # reference's charset() table, mods/util/charset) behind the
                # legacy flag; decoding still happens JVM-side per task.
                self.spark.conf.set("spark.sql.legacy.javaCharsets", "true")
            reader = reader.option("encoding", charset)
        if schema:
            reader = reader.schema(schema)
        elif infer if infer is not None else not charset:
            reader = reader.option("inferSchema", True)
        return Pipeline(reader.csv(path))

    def strings(self, path_or_text: str, separator: str | None = None,
                trimspace: bool = False, literal: bool = False) -> "Pipeline":
        """STRING(file(...)/payload, separator(), trimspace()) — line source
        (fm_bytes.go:26-130).  ``literal=True`` treats the argument as the
        payload text itself (the `payload() ??` fallback form); separator
        splits it, trimspace strips each record."""
        if literal:
            parts = path_or_text.split(separator or "\n")
            df = self.spark.createDataFrame([(s,) for s in parts], ["value"])
        else:
            reader = self.spark.read
            if separator and separator != "\n":
                reader = reader.option("lineSep", separator)
            df = reader.text(path_or_text)
        if trimspace:
            df = df.select(F.trim(F.col("value")).alias("value"))
        return Pipeline(df)

    def bytes_(self, path: str) -> "Pipeline":
        """BYTES(file(...)) — binary chunk source."""
        return Pipeline(self.spark.read.format("binaryFile").load(path))

    def fake(self, generator: DataFrame) -> "Pipeline":
        """FAKE(...) — pass any generator from neo_server_spark.tql.fake."""
        return Pipeline(generator)

    def oscillator(self, components, from_ns, until_ns, period_ns) -> "Pipeline":
        return Pipeline(FK.oscillator(self.spark, components, from_ns, until_ns, period_ns))

    def from_df(self, df: DataFrame) -> "Pipeline":
        """ARGS()/payload() equivalent — an upstream DataFrame as source."""
        return Pipeline(df)


class Pipeline:
    """MAP chain + SINKs.  Thin delegating wrappers — every method returns a
    new Pipeline over a transformed (still lazy) DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    def _wrap(self, df: DataFrame) -> "Pipeline":
        return Pipeline(df)

    # -------------------------------------------------------------- MAP ops

    def filter(self, predicate: Column | str) -> "Pipeline":
        return self._wrap(M.filter_(self.df, predicate))

    def filter_changed(self, value_col: str, series: Sequence[str] = (),
                       order_by="time", **kw) -> "Pipeline":
        return self._wrap(M.filter_changed(self.df, value_col, series, order_by, **kw))

    def take(self, n: int, offset: int = 0, order_by=None) -> "Pipeline":
        return self._wrap(M.take(self.df, n, offset, order_by))

    def drop(self, n: int, offset: int = 0, order_by=None) -> "Pipeline":
        return self._wrap(M.drop_(self.df, n, offset, order_by))

    def mapvalue(self, idx: int, expr, name=None, where=None) -> "Pipeline":
        return self._wrap(M.mapvalue(self.df, idx, expr, name, where))

    def pushvalue(self, idx: int, expr, name=None) -> "Pipeline":
        return self._wrap(M.pushvalue(self.df, idx, expr, name))

    def popvalue(self, *idxs: int) -> "Pipeline":
        return self._wrap(M.popvalue(self.df, *idxs))

    def mapkey(self, expr, name=None) -> "Pipeline":
        return self._wrap(M.mapkey(self.df, expr, name))

    def pushkey(self, expr, name: str = "key") -> "Pipeline":
        return self._wrap(M.pushkey(self.df, expr, name))

    def popkey(self, idx: int = 0) -> "Pipeline":
        return self._wrap(M.popkey(self.df, idx))

    def transpose(self, fixed: Sequence[int] = (), header: bool = False) -> "Pipeline":
        return self._wrap(M.transpose(self.df, fixed, header))

    def flatten(self, array_col: str | None = None) -> "Pipeline":
        return self._wrap(M.flatten(self.df, array_col))

    def set(self, name: str, expr) -> "Pipeline":
        """SET name = expr (task_node.go:137-147) — bind an intermediate column."""
        return self._wrap(self.df.withColumn(name, expr if isinstance(expr, Column) else F.expr(expr)))

    def throttle(self, tps: float) -> "Pipeline":
        """THROTTLE(tps) (fm_monad.go:240-271) — batch no-op; the streaming
        layer maps this to trigger rate limits (SURVEY §2.9)."""
        return self

    def script(self, fn: Callable, schema) -> "Pipeline":
        """SCRIPT(...) — Python replaces the reference's embedded JS runtime
        (fm_script.go:34-109).  ``fn(iter[pandas.DataFrame]) -> iter[pandas.DataFrame]``
        over Arrow batches (mapInPandas = $.yield() UDTF semantics)."""
        return self._wrap(self.df.mapInPandas(fn, schema))

    def shell(self, cmd: str) -> "Pipeline":
        """SHELL(cmd) — pipe records through an external command
        (fm_shell.go:49-154): rows serialize to CSV lines on stdin, each
        stdout line comes back as a single string record.  rdd.pipe runs the
        command once per partition — per-executor fan-out, not per-row."""
        piped = self.df.rdd.map(
            lambda row: ",".join("" if v is None else str(v) for v in row)
        ).pipe(cmd)
        spark = self.df.sparkSession
        return self._wrap(spark.createDataFrame(piped.map(lambda s: (s,)), ["line"]))

    def when(self, cond: Column | str, do: Callable) -> "Pipeline":
        """WHEN(cond, doLog()/doHttp()/do(...)) (fm_monad.go:2395-2413) —
        side effect per matching row, stream continues unchanged."""
        matching = M.filter_(self.df, cond)
        matching.foreach(do)
        return self

    # -------------------------------------------------------------- GROUP

    def group(self, by, aggs, sort: bool = True) -> "Pipeline":
        return self._wrap(G.group(self.df, by, aggs, sort))

    def groupbykey(self, key=None, sort: bool = True) -> "Pipeline":
        return self._wrap(G.groupbykey(self.df, key, sort))

    def timewindow(self, time_col, from_ns, until_ns, period_ns, aggs, **kw) -> "Pipeline":
        return self._wrap(G.timewindow(self.df, time_col, from_ns, until_ns,
                                       period_ns, aggs, **kw))

    def histogram(self, value, bin_min, bin_max, bin_step, **kw) -> "Pipeline":
        return self._wrap(ST.histogram(self.df, value, bin_min, bin_max, bin_step, **kw))

    def boxplot(self, value, category, **kw) -> "Pipeline":
        return self._wrap(ST.boxplot(self.df, value, category, **kw))

    # -------------------------------------------------------------- series ops

    def map_diff(self, value_col, out="diff", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_diff(self.df, value_col, out, series, order_by))

    def map_absdiff(self, value_col, out="absdiff", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_absdiff(self.df, value_col, out, series, order_by))

    def map_nonegdiff(self, value_col, out="nonegdiff", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_nonegdiff(self.df, value_col, out, series, order_by))

    def map_avg(self, value_col, out="avg", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_avg(self.df, value_col, out, series, order_by))

    def map_movavg(self, value_col, window, out="movavg", series=(),
                   order_by="time", no_wait=False) -> "Pipeline":
        return self._wrap(S.map_movavg(self.df, value_col, window, out, series,
                                       order_by, no_wait))

    def map_lowpass(self, value_col, alpha, out="lowpass", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_lowpass(self.df, value_col, alpha, out, series, order_by))

    def map_kalman(self, value_col, out="kalman", series=(), order_by="time", **kw) -> "Pipeline":
        return self._wrap(S.map_kalman(self.df, value_col, out, series, order_by, **kw))

    def map_distance(self, lat_col, lon_col, out="distance", series=(), order_by="time") -> "Pipeline":
        return self._wrap(S.map_distance(self.df, lat_col, lon_col, out, series, order_by))

    def fft(self, time_col="time", value_col="value", series=(), **kw) -> "Pipeline":
        return self._wrap(S.fft(self.df, time_col, value_col, series, **kw))

    # -------------------------------------------------------------- SINKs

    # ---- datapipe operators (training-data pipeline surface) -------------

    def dedup_exact(self, text_col: str = "text", id_col: str = "doc_id") -> "Pipeline":
        from neo_server_spark.datapipe import dedup
        return self._wrap(dedup.exact_dedup(self.df, text_col, id_col))

    def simhash(self, text_col: str = "text", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import dedup
        return self._wrap(dedup.simhash(self.df, text_col, **kw))

    def lang_id(self, text_col: str = "text", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import text as T
        return self._wrap(T.lang_id(self.df, text_col, **kw))

    def quality_score(self, text_col: str = "text") -> "Pipeline":
        from neo_server_spark.datapipe import text as T
        return self._wrap(T.quality_score(self.df, text_col))

    def fingerprint(self, text_col: str = "text", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import text as T
        return self._wrap(T.fingerprint(self.df, text_col, **kw))

    def scrub_pii(self, text_col: str = "text", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import text as T
        return self._wrap(T.scrub_pii(self.df, text_col, **kw))

    def lm_score(self, text_col: str = "text", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import text as T
        return self._wrap(T.lm_score(self.df, text_col, **kw))

    def sample(self, fraction: float, id_col: str = "doc_id", seed: str = "") -> "Pipeline":
        from neo_server_spark.datapipe import sampling
        return self._wrap(sampling.hash_sample(self.df, fraction, id_col, seed))

    def stratified_sample(self, fractions: dict, by: str = "lang", **kw) -> "Pipeline":
        from neo_server_spark.datapipe import sampling
        return self._wrap(sampling.stratified_sample(self.df, fractions, by, **kw))

    def dedup_clusters(self, pairs, id_col: str = "doc_id", keep: bool = False) -> "Pipeline":
        from neo_server_spark.datapipe import dedup
        return self._wrap(dedup.dedup_clusters(self.df, pairs, id_col, keep))

    def cached(self, key: str, ttl: float, render: Callable[["Pipeline"], object]):
        """Result-cache a rendered sink (mods/tql/tqlcache.go:21-70,
        checked pre-execution in task.go:393-418): ``render`` runs only on
        miss/expiry; hot keys get preemptive background refresh."""
        from neo_server_spark.tql.cache import default_cache

        return default_cache.get_or_compute(key, ttl, lambda: render(self))

    def to_df(self) -> DataFrame:
        return self.df

    def collect(self):
        return self.df.collect()

    def csv(self, path: str | None = None, **kw) -> str | None:
        """CSV() sink: string render, or bulk write when ``path`` given."""
        if path is None:
            return encoders.to_csv(self.df, **kw)
        encoders.write_csv(self.df, path, **kw)
        return None

    def json(self, **kw) -> str:
        return encoders.to_json_envelope(self.df, **kw)

    def ndjson(self, path: str | None = None, **kw) -> str | None:
        if path is None:
            return encoders.to_ndjson(self.df, **kw)
        encoders.write_ndjson(self.df, path)
        return None

    def markdown(self, **kw) -> str:
        return encoders.to_markdown(self.df, **kw)

    def html(self, **kw) -> str:
        return encoders.to_html(self.df, **kw)

    def text(self, template: str | None = None, **kw) -> str:
        return encoders.to_text(self.df, template, **kw)

    def chart(self, x: str, ys=None, kind: str = "line", **kw) -> str:
        return encoders.to_chart_spec(self.df, x, ys, kind, **kw)

    def geomap(self, lat: str = "lat", lon: str = "lon", **kw) -> str:
        return encoders.to_geomap_spec(self.df, lat, lon, **kw)

    def box(self, **kw) -> str:
        return encoders.to_box(self.df, **kw)

    def discard(self) -> int:
        """DISCARD() — execute for side effects/timing, return row count."""
        return self.df.count()

    def append(self, path: str) -> None:
        """APPEND(table()) — bulk append into the tag-table layout."""
        encoders.write_parquet_append(self.df, path)

    def insert(self, table: str) -> None:
        """INSERT(...) — row insert into a saved table (fm_dbsink.go:38-165)."""
        self.df.write.insertInto(table)

    def explain(self, mode: str = "formatted") -> None:
        """dump() (fm_dbsrc.go:821-833) — show the physical plan."""
        self.df.explain(mode)
