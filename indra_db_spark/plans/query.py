"""Composable query DSL over the assembled corpus.

Reference: indra_db/client/readonly/query.py — a tree of Query objects
(HasAgent, HasType, HasHash, HasSources, HasOnlySource, HasReadings,
HasDatabases, HasNumAgents, HasNumEvidence, FromPapers, Intersection,
Union, inversion ``~q``, EmptyQuery) compiled to SQLAlchemy selects over
the readonly meta tables, returning mk_hash sets with (ev_count, belief,
agent_count), hydrated into statements with per-statement ``ev_limit``.

Here every leaf that reads only pa_statements compiles to a **row
predicate** (``Query.predicate()`` → Column): HasAgent tests the
``subj``/``obj`` struct sides directly, so no per-request name_meta
posexplode, distinct or self-join is planned. Composition rules:

  * Intersection → AND of its predicate children, one
    ``pa_statements.where``; only children that read another table
    (FromPapers, FromTopics, HasCuration, NotFlaggedIncorrect) are
    still ``left_semi`` joined onto that filter,
  * Union → OR (or ``unionByName`` + drop-dup on the hash when a child
    reads another table),
  * inversion → ``~coalesce(p, false)`` (or ``left_anti`` against the
    corpus). The coalesce sits only under negation: a NULL predicate
    already drops a row, and only negation would turn it TRUE, so
    positive leaves keep their plain form and push down to the parquet
    scan.

``Query.matching(ctx)`` is the matching pa_statements rows — a filter
for predicate queries, a semi-join otherwise — and every result mode
(evaluate, get_statements, get_interactions and the groupings on top)
starts from it.

Serving is two-phase, as in the reference client: ``Query.page(ctx)``
orders and paginates the matching rows, and a limited
``get_statements`` collects that page's mk_hashes first, then fetches
it by one hash lookup (``mk_hash IN page``) on pa_statements — O(page)
work on the published mk_hash-bucketed table, whose rows already carry
their packed evidence and whose scan prunes to the page's buckets.

Every leaf is also **invertible** (reference: Query._inverted), and
get_statements supports sort_by/limit/offset (W4) + ev_limit (W2).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from indra_db_spark.functions.hashing import agent_key
from indra_db_spark.functions.literals import in_longs
from indra_db_spark.operators.meta import KB_PREFIX

# Statement-type hierarchy (indra.statements class tree, the subset this
# engine emits). HasType(include_subclasses=True) expands via this closure.
TYPE_PARENTS = {
    "Phosphorylation": "AddModification",
    "Ubiquitination": "AddModification",
    "Acetylation": "AddModification",
    "Methylation": "AddModification",
    "Dephosphorylation": "RemoveModification",
    "AddModification": "Modification",
    "RemoveModification": "Modification",
    "Activation": "RegulateActivity",
    "Inhibition": "RegulateActivity",
    "IncreaseAmount": "RegulateAmount",
    "DecreaseAmount": "RegulateAmount",
    "Gef": "Statement",
    "Gap": "Statement",
    "Sumoylation": "AddModification",
    "Glycosylation": "AddModification",
    "Ribosylation": "AddModification",
    "Farnesylation": "AddModification",
    "Palmitoylation": "AddModification",
    "Desumoylation": "RemoveModification",
    "Deacetylation": "RemoveModification",
    "Demethylation": "RemoveModification",
    "Deubiquitination": "RemoveModification",
    "Autophosphorylation": "Phosphorylation",
    "Transphosphorylation": "Phosphorylation",
    "Translocation": "Statement",
    "Modification": "Statement",
    "RegulateActivity": "Statement",
    "RegulateAmount": "Statement",
    "Complex": "Statement",
}


def type_closure(types: list[str]) -> list[str]:
    """All concrete types whose ancestor chain hits any of ``types``."""
    out = set()
    concrete = set(TYPE_PARENTS) | {"Complex"}
    for t in concrete:
        cur: str | None = t
        while cur is not None:
            if cur in types:
                out.add(t)
                break
            cur = TYPE_PARENTS.get(cur)
    out |= set(types) & concrete
    return sorted(out)


@dataclass
class QueryContext:
    """The corpus the DSL runs against (readonly-database analog)."""

    pa_statements: DataFrame
    evidence: DataFrame
    page_topics: DataFrame | None = None  # (url, topic_id) — MeSH-term analog
    page_concepts: DataFrame | None = None  # (url, topic_id) — MeSH-concept analog
    curations: DataFrame | None = None  # Curation-table analog


def pack_evidence(evidence: DataFrame) -> DataFrame:
    """(mk_hash, evidences): each statement's evidence rows as one array
    in serving order, richest first ([P] query.py::Query.get_statements
    returns richest evidence first): longer evidence text ranks higher
    (the fulltext>abstract>title analog in the pages model), raw_id breaks
    ties deterministically. ``slice(evidences, 1, k)`` is therefore the
    statement's best k evidences."""
    # sort on a leading (-text_length, raw_id) key, then strip it —
    # array_sort on the bare struct would order by raw_id, i.e. by a hash
    ev_struct = F.struct(
        (-F.length("evidence_text")).alias("_neg_len"),
        F.col("raw_id"),
        F.col("url"),
        F.col("source"),
        F.col("evidence_text"),
    )
    return evidence.groupBy("mk_hash").agg(
        F.transform(
            F.array_sort(F.collect_list(ev_struct)),
            lambda e: F.struct(
                e["raw_id"].alias("raw_id"),
                e["url"].alias("url"),
                e["source"].alias("source"),
                e["evidence_text"].alias("evidence_text"),
            ),
        ).alias("evidences")
    )


class Query:
    """A node of the query tree.

    A subclass defines ``predicate()`` when it reads only pa_statements,
    and ``hashes()`` (or ``matching()``) when it reads another table.
    """

    def __and__(self, other: "Query") -> "Query":
        return Intersection([self, other])

    def __or__(self, other: "Query") -> "Query":
        return Union([self, other])

    def __invert__(self) -> "Query":
        return Not(self)

    def predicate(self) -> Column | None:
        """Row predicate over pa_statements — TRUE exactly on matching
        rows — or None when the query reads another table."""
        return None

    def hashes(self, ctx: QueryContext) -> DataFrame:
        """mk_hash of every matching statement."""
        p = self.predicate()
        if p is None:
            raise NotImplementedError(type(self).__name__)
        return ctx.pa_statements.where(p).select("mk_hash")

    def matching(self, ctx: QueryContext) -> DataFrame:
        """The matching pa_statements rows: one filter for a predicate
        query, a semi-join on ``hashes`` otherwise."""
        p = self.predicate()
        if p is not None:
            return ctx.pa_statements.where(p)
        return ctx.pa_statements.join(self.hashes(ctx), "mk_hash", "left_semi")

    # ---- result surface (QueryResult analog) ----
    def evaluate(self, ctx: QueryContext) -> DataFrame:
        """(mk_hash, ev_count, belief, agent_count) for matching stmts."""
        return self.matching(ctx).select(
            "mk_hash", "ev_count", "belief", "agent_count"
        )

    def page(
        self,
        ctx: QueryContext,
        sort_by: str = "ev_count",
        limit: int | None = None,
        offset: int | None = None,
        after: tuple | None = None,
    ) -> DataFrame:
        """The selected statement rows: matching, ordered by
        (``sort_by`` desc, mk_hash asc) and paginated.

        Pagination: ``after=(last_sort_value, last_mk_hash)`` is keyset
        pagination — a pure pushed-down filter, the scalable path. Page N
        is fetched by passing the last row of page N-1. ``offset`` is kept
        for API parity but runs a global row_number window (single task
        over the matching set) — small result sets only.
        """
        stmts = self.matching(ctx)
        if after is not None:
            last_sort, last_hash = after
            stmts = stmts.where(
                (F.col(sort_by) < F.lit(last_sort))
                | (
                    (F.col(sort_by) == F.lit(last_sort))
                    & (F.col("mk_hash") > F.lit(last_hash))
                )
            )
        elif offset:
            w = Window.orderBy(F.desc(sort_by), F.asc("mk_hash"))
            stmts = (
                stmts.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") > offset)
                .drop("_rn")
            )
        stmts = stmts.orderBy(F.desc(sort_by), F.asc("mk_hash"))
        return stmts if limit is None else stmts.limit(limit)

    def get_statements(
        self,
        ctx: QueryContext,
        ev_limit: int | None = None,
        sort_by: str = "ev_count",
        limit: int | None = None,
        offset: int | None = None,
        after: tuple | None = None,
    ) -> DataFrame:
        """Hydrated statements (+ evidences array, ev_limit-truncated) of
        ``page(ctx, sort_by, limit, offset, after)``.

        With a ``limit`` (the server always sets one) the page is selected
        **at call time**: one job collects its ≤ ``limit`` mk_hashes, and
        the result is ``pa_statements`` filtered on that literal hash set —
        a filter pushed into the scan, which on the mk_hash-bucketed
        published table also prunes to the page's buckets. Without a
        limit the result stays lazy.

        A published context (``api.load_context(bucketed=True)``) stores
        each statement's ``evidences`` array on its pa_statements row,
        already in serving order, so a page is one scan: no join,
        aggregate or window per request (the reference's readonly
        ``fast_raw_pa_link`` is likewise denormalized for evidence fetch).
        Any other context has no ``evidences`` column; its evidence is
        narrowed to the selection (the same hash set, or a semi-join
        without a limit) **before** it is packed and joined, so
        hydrating 25 statements never shuffles the full evidence table.
        ``ev_limit`` keeps the first ``ev_limit`` evidences of the array
        (the richest), and ``ev_limit <= 0`` none: ``evidences`` is NULL.
        """
        stmts = self.page(ctx, sort_by, limit, offset, after)
        if limit is not None:
            in_page = in_longs(
                "mk_hash", [r["mk_hash"] for r in stmts.select("mk_hash").collect()]
            )
            stmts = ctx.pa_statements.where(in_page)
        if "evidences" not in stmts.columns:
            ev = (
                ctx.evidence.where(in_page) if limit is not None
                else ctx.evidence.join(stmts.select("mk_hash"), "mk_hash", "left_semi")
            )
            stmts = stmts.join(pack_evidence(ev), "mk_hash", "left")
        if ev_limit is not None:
            stmts = stmts.withColumn(
                "evidences",
                F.slice("evidences", 1, ev_limit) if ev_limit > 0
                else F.lit(None).cast(stmts.schema["evidences"].dataType),
            )
        # a join does NOT preserve the page's sort (at scale it plans as a
        # SortMergeJoin keyed on mk_hash), nor does the hash lookup — apply
        # the output order last so the serving contract holds on every path
        return stmts.orderBy(F.desc(sort_by), F.asc("mk_hash"))

    def get_statements_json(self, ctx: QueryContext, **kwargs) -> DataFrame:
        """(mk_hash, stmt_json) — the reference's JSON payload edge.

        Internally statements are typed structs (G6: columnar wins);
        ``to_json`` is applied ONLY at this serving boundary, mirroring
        the reference's gzipped-JSON ``pa_statements.json`` payloads and
        StatementQueryResult rendering ([P] client/readonly/query.py).
        Accepts every get_statements kwarg (ev_limit/sort/pagination).
        """
        stmts = self.get_statements(ctx, **kwargs)
        payload = F.struct(
            F.col("matches_key"),
            F.col("type"),
            F.col("subj"),
            F.col("obj"),
            F.col("mods"),
            F.col("ev_count"),
            F.col("src_counts"),
            F.col("belief"),
            F.col("evidences"),
        )
        return stmts.select("mk_hash", F.to_json(payload).alias("stmt_json"))

    # ---- grouped result modes (query.py::Query.get_interactions /
    # get_relations / get_agents — same hash set, different final grouping)
    def get_interactions(self, ctx: QueryContext) -> DataFrame:
        """Per-statement rows with agent keys + source map (hash grain)."""
        return self.matching(ctx).select(
            "mk_hash",
            agent_key(F.col("subj")).alias("subj_key"),
            agent_key(F.col("obj")).alias("obj_key"),
            "type",
            "ev_count",
            "belief",
            "src_counts",
        )

    def get_relations(self, ctx: QueryContext) -> DataFrame:
        """Grouped by (agent pair, type) — relation grain."""
        return (
            self.get_interactions(ctx)
            .groupBy("subj_key", "obj_key", "type")
            .agg(
                F.count(F.lit(1)).alias("n_statements"),
                F.sum("ev_count").alias("total_ev"),
                F.max("belief").alias("max_belief"),
            )
        )

    def get_agents(self, ctx: QueryContext) -> DataFrame:
        """Grouped by agent pair across all types — agent grain."""
        return (
            self.get_interactions(ctx)
            .groupBy("subj_key", "obj_key")
            .agg(
                F.collect_set("type").alias("types"),
                F.count(F.lit(1)).alias("n_statements"),
                F.sum("ev_count").alias("total_ev"),
            )
        )


def _all(preds: list[Column]) -> Column:
    return functools.reduce(operator.and_, preds) if preds else F.lit(True)


def _any(preds: list[Column]) -> Column:
    return functools.reduce(operator.or_, preds) if preds else F.lit(False)


@dataclass
class EmptyQuery(Query):
    """Neutral element: matches everything (query.py::EmptyQuery)."""

    def predicate(self) -> Column:
        return F.lit(True)


# agent position → its struct column on a pa_statements row
_AGENT_SIDES = ("subj", "obj")
_ROLE_NUM = {"SUBJECT": 0, "OBJECT": 1}


@dataclass
class HasAgent(Query):
    """query.py::HasAgent — match on grounding or name, optional role.

    ``role``/``agent_num`` pick which of the ``subj``/``obj`` structs
    the name/grounding test reads; a contradictory pair matches nothing.
    """

    name: str | None = None
    namespace: str | None = None
    db_id: str | None = None
    role: str | None = None  # SUBJECT | OBJECT
    agent_num: int | None = None

    def predicate(self) -> Column:
        if self.agent_num is not None and self.agent_num not in (0, 1):
            # the engine's statement model is strictly binary (subj/obj;
            # schemas.py two-agent invariant) — an out-of-range agent_num
            # is a caller error, not an empty result
            raise ValueError(
                f"agent_num must be 0 (SUBJECT) or 1 (OBJECT) in the "
                f"binary statement model, got {self.agent_num}"
            )
        nums = {0, 1}
        if self.role is not None:
            nums &= {_ROLE_NUM.get(self.role)}
        if self.agent_num is not None:
            nums &= {self.agent_num}
        wanted = [
            (f, v)
            for f, v in (
                ("name", self.name),
                ("db_ns", self.namespace),
                ("db_id", self.db_id),
            )
            if v is not None
        ]
        return _any(
            [
                _all([F.col(f"{_AGENT_SIDES[n]}.{f}") == v for f, v in wanted])
                for n in sorted(nums)
            ]
        )


@dataclass
class HasType(Query):
    types: list[str] = field(default_factory=list)
    include_subclasses: bool = False

    def predicate(self) -> Column:
        types = type_closure(self.types) if self.include_subclasses else self.types
        return F.col("type").isin(types)


@dataclass
class HasHash(Query):
    hashes_list: list[int] = field(default_factory=list)

    def predicate(self) -> Column:
        return in_longs("mk_hash", self.hashes_list)


@dataclass
class HasSources(Query):
    """≥1 evidence from EACH given source (conjunctive, query.py::HasSources)."""

    sources: list[str] = field(default_factory=list)

    def predicate(self) -> Column:
        return _all(
            [F.coalesce(F.col("src_counts")[s], F.lit(0)) > 0 for s in self.sources]
        )


@dataclass
class HasOnlySource(Query):
    source: str = ""

    def predicate(self) -> Column:
        return (F.size(F.map_keys("src_counts")) == 1) & (
            F.coalesce(F.col("src_counts")[self.source], F.lit(0)) > 0
        )


def _src_flag(kb: bool):
    if kb:
        return F.exists(F.map_keys("src_counts"), lambda s: s.startswith(KB_PREFIX))
    return F.exists(F.map_keys("src_counts"), lambda s: ~s.startswith(KB_PREFIX))


@dataclass
class HasReadings(Query):
    def predicate(self) -> Column:
        return _src_flag(False)


@dataclass
class HasDatabases(Query):
    def predicate(self) -> Column:
        return _src_flag(True)


@dataclass
class HasNumAgents(Query):
    min_agents: int = 0

    def predicate(self) -> Column:
        return F.col("agent_count") >= self.min_agents


@dataclass
class HasNumEvidence(Query):
    min_evidence: int = 0

    def predicate(self) -> Column:
        return F.col("ev_count") >= self.min_evidence


@dataclass
class FromPapers(Query):
    """Statements with evidence from any of the given papers (urls)."""

    urls: list[str] = field(default_factory=list)

    def hashes(self, ctx: QueryContext) -> DataFrame:
        return (
            ctx.evidence.where(F.col("url").isin(self.urls))
            .select("mk_hash")
            .distinct()
        )


@dataclass
class FromTopics(Query):
    """Statements with evidence from pages annotated with any given topic —
    the FromMeshIds analog. Like the reference, ids dispatch by prefix to
    the term vs concept annotation table (query.py::FromMeshIds routes
    D-ids → mesh_term_meta and C-ids → mesh_concept_meta): ``T…`` ids hit
    ctx.page_topics, ``C…`` ids hit ctx.page_concepts."""

    topic_ids: list[str] = field(default_factory=list)

    def hashes(self, ctx: QueryContext) -> DataFrame:
        term_ids = [t for t in self.topic_ids if not t.startswith("C")]
        concept_ids = [t for t in self.topic_ids if t.startswith("C")]
        url_sets = []
        if term_ids:
            if ctx.page_topics is None:
                raise ValueError("QueryContext.page_topics not provided")
            url_sets.append(
                ctx.page_topics.where(F.col("topic_id").isin(term_ids))
            )
        if concept_ids:
            if ctx.page_concepts is None:
                raise ValueError("QueryContext.page_concepts not provided")
            url_sets.append(
                ctx.page_concepts.where(F.col("topic_id").isin(concept_ids))
            )
        if not url_sets:
            return ctx.pa_statements.select("mk_hash").limit(0)
        urls = url_sets[0]
        for u in url_sets[1:]:
            urls = urls.unionByName(u)
        urls = urls.select("url").distinct()
        return (
            ctx.evidence.join(F.broadcast(urls), "url", "left_semi")
            .select("mk_hash")
            .distinct()
        )


@dataclass
class HasCuration(Query):
    """Statements with ≥1 curation matching every given filter —
    principal curation lookup joined to the hash grain
    ([P] client/principal/curation.py::get_curations)."""

    tags: list[str] | None = None
    curators: list[str] | None = None

    def hashes(self, ctx: QueryContext) -> DataFrame:
        if ctx.curations is None:
            raise ValueError("QueryContext.curations not provided")
        cur = ctx.curations
        if self.tags is not None:
            cur = cur.where(F.col("tag").isin(self.tags))
        if self.curators is not None:
            cur = cur.where(F.col("curator").isin(self.curators))
        curated = cur.select(F.col("pa_hash").alias("mk_hash")).distinct()
        # curations are tiny vs the corpus — broadcast the semi-join side
        return ctx.pa_statements.join(
            F.broadcast(curated), "mk_hash", "left_semi"
        ).select("mk_hash")


@dataclass
class NotFlaggedIncorrect(Query):
    """Exclude statements flagged curated-incorrect (≥1 incorrect-family
    curation, no correct one) — the readonly serving filter."""

    def hashes(self, ctx: QueryContext) -> DataFrame:
        if ctx.curations is None:
            return EmptyQuery().hashes(ctx)
        from indra_db_spark.operators.curation import curation_flags

        flagged = (
            curation_flags(ctx.curations)
            .where(F.col("is_flagged"))
            .select("mk_hash")
        )
        return ctx.pa_statements.select("mk_hash").join(
            F.broadcast(flagged), "mk_hash", "left_anti"
        )


@dataclass
class Intersection(Query):
    """AND of the predicate children in one filter; each child that reads
    another table is semi-joined onto it. The empty intersection is
    trivially true — everything matches ([P] query.py Intersection)."""

    queries: list[Query] = field(default_factory=list)

    def predicate(self) -> Column | None:
        preds = [q.predicate() for q in self.queries]
        if any(p is None for p in preds):
            return None
        return _all(preds)

    def matching(self, ctx: QueryContext) -> DataFrame:
        preds = [q.predicate() for q in self.queries]
        out = ctx.pa_statements.where(_all([p for p in preds if p is not None]))
        for q, p in zip(self.queries, preds):
            if p is None:
                out = out.join(q.hashes(ctx), "mk_hash", "left_semi")
        return out

    def hashes(self, ctx: QueryContext) -> DataFrame:
        return self.matching(ctx).select("mk_hash")


@dataclass
class Union(Query):
    """OR of the predicate children; children that read another table are
    unioned on the hash. The empty disjunction is the EMPTY SET — the dual
    of Intersection([]) == everything (De Morgan: ~Union([]) ==
    Intersection([]))."""

    queries: list[Query] = field(default_factory=list)

    def predicate(self) -> Column | None:
        preds = [q.predicate() for q in self.queries]
        if any(p is None for p in preds):
            return None
        return _any(preds)

    def hashes(self, ctx: QueryContext) -> DataFrame:
        preds = [q.predicate() for q in self.queries]
        out = ctx.pa_statements.where(
            _any([p for p in preds if p is not None])
        ).select("mk_hash")
        rest = [q for q, p in zip(self.queries, preds) if p is None]
        for q in rest:
            out = out.unionByName(q.hashes(ctx))
        return out.dropDuplicates(["mk_hash"]) if rest else out


@dataclass
class Not(Query):
    """Complement within the corpus. A NULL predicate is not a match, so
    it must count as FALSE before negation (three-valued logic)."""

    query: Query = None  # type: ignore[assignment]

    def predicate(self) -> Column | None:
        p = self.query.predicate()
        return None if p is None else ~F.coalesce(p, F.lit(False))

    def matching(self, ctx: QueryContext) -> DataFrame:
        p = self.predicate()
        if p is not None:
            return ctx.pa_statements.where(p)
        return ctx.pa_statements.join(self.query.hashes(ctx), "mk_hash", "left_anti")

    def hashes(self, ctx: QueryContext) -> DataFrame:
        return self.matching(ctx).select("mk_hash")
