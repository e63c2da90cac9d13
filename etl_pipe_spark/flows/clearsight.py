"""The six ClearSight flows, re-expressed as single declarative plans.

A user of the reference (Piyush30P/ETL-pipe) runs six extract ->
transform -> load flows per cycle (reference pipeline.py:25-115).
Here each flow is ONE lazy DataFrame transformation over the fc_*
source tables: the extraction SQL (reference extract.py), the per-row
Python transform (reference transform.py) and the typed-column
flattening collapse into a single Catalyst plan — joins broadcast the
dimension sides, filters push into the scans, and the row loops
vanish into whole-stage codegen.

Every flow takes ``sources: dict[str, DataFrame]`` (fc_* tables from
parquet fixtures or JDBC) and the watermark ``since``, mirroring the
reference's per-flow signatures.  Output column names match the
reference's SELECT aliases so downstream consumers (the star-schema
loaders / Power BI model) work unchanged.

Known reference bug NOT replicated: transform.py:187 reads
r["validation_message"] where the extract aliased it
input_validation_message (crashes on non-null messages); we carry the
column through correctly (SURVEY §2.7 F11).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .. import schemas
from ..functions.json_flatten import flatten_event_data, flatten_input_data

Sources = dict[str, DataFrame]


def _epoch_s(col: F.Column) -> F.Column:
    """EXTRACT(EPOCH FROM ts) with microsecond fidelity, ANSI-safe."""
    return F.unix_micros(col.cast("timestamp")).cast("double") / 1e6


def scenarios_flow(src: Sources, since) -> DataFrame:
    """Scenario denormalization (reference extract.py:52-110 J1/P1/P2).

    3-table inner join (scenario x model x forecast_init, both dims
    broadcast) with the OR-of-5-lifecycle-timestamps incremental
    predicate.
    """
    s = src["fc_scenario"]
    m = src["fc_model"]
    fi = src["fc_forecast_init"]
    since_l = F.lit(since)
    changed = (
        (s.created_at >= since_l)
        | (s.updated_at >= since_l)
        | (s.submitted_at >= since_l)
        | (s.locked_at >= since_l)
        | (s.withdraw_at >= since_l)
    )
    return (
        s.filter(changed)
        .join(F.broadcast(m), s.model_id == m.id)
        .join(F.broadcast(fi), s.forecast_init_id == fi.id)
        .select(
            s.id, s.scenario_display_name, s.status, s.is_starter,
            s.currency, s.currency_code,
            s.scenario_start_year, s.scenario_end_year,
            s.scenario_region_name, s.scenario_country_name,
            s.created_at, s.created_by, s.submitted_at, s.submitted_by,
            s.locked_at, s.locked_by, s.updated_at, s.updated_by,
            s.withdraw_at, s.withdraw_by, s.delete_at,
            m.id.alias("model_id"),
            m.model_display_name, m.model_type, m.model_publish_level,
            m.therapeutic_area_name,
            m.model_disease_area_name.alias("disease_area_name"),
            m.has_inherent_event.alias("loe_enabled"),
            m.model_region_display_name.alias("model_region_name"),
            m.model_country_display_name.alias("model_country_name"),
            fi.forecast_cycle_display_name.alias("forecast_cycle_name"),
            fi.forecast_cycle_start_dt.alias("forecast_cycle_start"),
            fi.forecast_cycle_end_dt.alias("forecast_cycle_end"),
            fi.horizon_start_limit, fi.horizon_end_limit, fi.starter_created,
        )
    )


def node_data_flow(src: Sources, since) -> DataFrame:
    """Node-input versions + hierarchy + JSON flatten
    (reference extract.py:113-152 J2/JS1, transform.py:157-205).

    The 4-level hierarchy flatten broadcasts every dimension; the JSONB
    payload lifts into 12 typed columns via the lenient coercion
    ladders; is_current_version derives from the open end_at.
    """
    nd = src["fc_scenario_node_data"]
    mn = src["fc_model_node"]
    mg = src["fc_model_node_groups"]
    mt = src["fc_model_node_tab"]
    since_l = F.lit(since)
    changed = (nd.created_at >= since_l) | (
        nd.end_at.isNotNull() & (nd.end_at >= since_l)
    )
    return (
        nd.filter(changed)
        .join(F.broadcast(mn), nd.model_node_id == mn.id)
        .join(F.broadcast(mg), mn.model_node_group_id == mg.id)
        .join(F.broadcast(mt), mg.model_node_tab_id == mt.id)
        .withColumn(
            "__parsed_input",
            F.from_json(nd.input_data, schemas.INPUT_DATA_PAYLOAD),
        )
        .select(
            nd.id, nd.scenario_id, nd.model_node_id,
            *flatten_input_data(nd.input_data, parsed=F.col("__parsed_input")),
            nd.input_hash,
            nd.input_validated,
            nd.input_validation_message.alias("validation_message"),
            nd.source,
            nd.created_at.alias("version_started_at"),
            nd.end_at.alias("version_ended_at"),
            nd.end_at.isNull().alias("is_current_version"),
            nd.created_by.alias("edited_by"),
            mn.node_display_name, mn.node_type, mn.node_seq, mn.flow,
            mg.group_display_name.alias("group_name"),
            mg.group_type, mg.group_seq,
            mt.tab_display_name.alias("tab_name"),
            mt.tab_level, mt.tab_seq,
        )
        # the reference's ORDER BY nd.created_at (extract.py:150) only
        # existed for its row-at-a-time upserts; a set-based merge is
        # order-insensitive, and a global sort here would be a full
        # shuffle whose ordering no parallel sink preserves anyway
    )


def runs_flow(src: Sources, since) -> DataFrame:
    """Run summary rollup (reference extract.py:159-190 J3/A1/A2).

    run ⟕ branch ⟕ calc feeding COUNT(DISTINCT), NULL-skipping
    COUNT, conditional status sums, and the minutes duration —
    zero-branch runs keep zero counts (left-join semantics).
    """
    sr = src["fc_scenario_run"]
    rb = src["fc_scenario_run_branch"]
    nc = src["fc_scenario_node_calc"]
    since_l = F.lit(since)
    changed = (sr.run_at >= since_l) | (
        sr.run_complete_at.isNotNull() & (sr.run_complete_at >= since_l)
    )
    duration_min = F.round(
        (_epoch_s(sr.run_complete_at) - _epoch_s(sr.run_at)) / 60.0, 2
    )
    return (
        sr.filter(changed)
        .join(rb, rb.scenario_run_id == sr.id, "left")
        .join(nc, nc.scenario_run_branch_id == rb.id, "left")
        .groupBy(
            sr.id.alias("run_id"), sr.scenario_id, sr.run_status,
            sr.run_at, sr.run_by, sr.run_complete_at, sr.fail_reason,
        )
        .agg(
            F.count_distinct(rb.id).alias("branch_count"),
            F.count(nc.id).alias("total_nodes_processed"),
            F.sum(F.when(nc.status == "success", 1).otherwise(0))
            .cast("long").alias("nodes_success"),
            F.sum(F.when(nc.status == "failed", 1).otherwise(0))
            .cast("long").alias("nodes_failed"),
            F.sum(F.when(nc.status == "timeout", 1).otherwise(0))
            .cast("long").alias("nodes_timeout"),
        )
        .withColumn("run_duration_minutes", duration_min)
    )


def node_calc_flow(src: Sources, since) -> DataFrame:
    """Calc results with run/node context (reference extract.py:193-231
    J4/A2/JS3): immutable outputs, seconds duration at 3 decimals,
    JSON kept opaque as text."""
    nc = src["fc_scenario_node_calc"]
    rb = src["fc_scenario_run_branch"]
    sr = src["fc_scenario_run"]
    mn = src["fc_model_node"]
    return (
        nc.filter(nc.created_at >= F.lit(since))
        .join(rb, nc.scenario_run_branch_id == rb.id)
        .join(sr, rb.scenario_run_id == sr.id)
        .join(F.broadcast(mn), nc.model_node_id == mn.id)
        .select(
            nc.id,
            sr.id.alias("run_id"),
            sr.scenario_id,
            rb.id.alias("branch_id"),
            rb.event_tag,
            nc.model_node_id,
            mn.node_display_name,
            mn.node_type,
            nc.status.alias("calc_status"),
            nc.fail_reason,
            nc.processing_start_at,
            nc.processing_end_at,
            F.round(
                _epoch_s(nc.processing_end_at) - _epoch_s(nc.processing_start_at), 3
            ).alias("processing_duration_s"),
            nc.output_data.cast("string").alias("output_data_text"),
        )
    )


def event_data_flow(src: Sources, since) -> DataFrame:
    """Event versions with double-role dim joins + JSON flatten
    (reference extract.py:233-267 J5/J6/JS2, transform.py:253-283).

    fc_model_node joins twice under different roles (population /
    parent product), LEFT because both FKs are nullable.
    """
    ed = src["fc_scenario_event_data"]
    st = src["fc_scenario_event_type"]
    et = src["fc_event_type"]
    pn = src["fc_model_node"].alias("pn")
    ppn = src["fc_model_node"].alias("ppn")
    since_l = F.lit(since)
    changed = (ed.created_at >= since_l) | (
        ed.end_at.isNotNull() & (ed.end_at >= since_l)
    )
    return (
        ed.filter(changed)
        .join(st, ed.scenario_event_type_id == st.id)
        .join(F.broadcast(et), st.event_type_id == et.id)
        .join(F.broadcast(pn), ed.population_node_id == F.col("pn.id"), "left")
        .join(F.broadcast(ppn), ed.parent_product_node_id == F.col("ppn.id"), "left")
        .withColumn(
            "__parsed_event",
            F.from_json(ed.event_data, schemas.EVENT_DATA_PAYLOAD),
        )
        .select(
            ed.id,
            st.scenario_id,
            et.display_name.alias("event_type_name"),
            et.inherent.alias("is_inherent"),
            F.col("pn.node_display_name").alias("population_node_name"),
            F.col("ppn.node_display_name").alias("parent_product_name"),
            ed.created_at.alias("version_started_at"),
            ed.end_at.alias("version_ended_at"),
            ed.end_at.isNull().alias("is_current_version"),
            ed.created_by.alias("edited_by"),
            *flatten_event_data(ed.event_data, parsed=F.col("__parsed_event")),
            ed.event_data_hash,
            ed.is_overridden,
            ed.event_shares_overridden.cast("string").alias("override_data_text"),
            ed.is_validated,
            ed.input_validation_message.alias("validation_message"),
        )
    )


def timeline_flow(src: Sources, since) -> DataFrame:
    """The 8-way UNION ALL activity timeline (reference extract.py:270-419 U1).

    Eight branch projections onto one 10-column event schema with
    typed NULL literals, NULL-propagating concat descriptions (F1) and
    COALESCE'd optional fragments (F2); the synthetic source_key makes
    overlap redelivery idempotent at the insert-if-absent sink (L6).
    Ordered by (event_time, source_key) and capped at the reference's
    10,000 rows — the tiebreaker makes the cap deterministic, unlike
    the reference's bare ORDER BY event_time.
    """
    s = src["fc_scenario"]
    nd = src["fc_scenario_node_data"]
    mn = src["fc_model_node"]
    ed = src["fc_scenario_event_data"]
    st = src["fc_scenario_event_type"]
    et = src["fc_event_type"]
    pn = src["fc_model_node"].alias("tpn")
    sr = src["fc_scenario_run"]
    since_l = F.lit(since)

    def snull(t="string"):
        return F.lit(None).cast(t)

    def scenario_branch(ts_col, etype, actor_col, desc, key_prefix, require_notnull):
        f = s.filter(ts_col >= since_l)
        if require_notnull:
            f = f.filter(ts_col.isNotNull())
        return f.select(
            ts_col.alias("event_time"),
            F.lit(etype).alias("event_type"),
            F.lit("LIFECYCLE").alias("event_category"),
            actor_col.alias("actor"),
            F.lit(desc).alias("description"),
            snull().alias("run_id"),
            snull().alias("node_name"),
            snull().alias("event_type_name"),
            s.id.alias("scenario_id"),
            F.concat(F.lit(key_prefix), s.id.cast("string")).alias("source_key"),
        )

    b1 = scenario_branch(s.created_at, "SCENARIO_CREATED", s.created_by,
                         "Scenario created", "SC_", False)
    b2 = scenario_branch(s.submitted_at, "SUBMITTED", s.submitted_by,
                         "Scenario submitted", "SUBM_", True)
    b3 = scenario_branch(s.locked_at, "LOCKED", s.locked_by,
                         "Scenario locked", "LOCK_", True)
    b4 = scenario_branch(s.withdraw_at, "WITHDRAWN", s.withdraw_by,
                         "Scenario withdrawn", "WITH_", True)

    b5 = (
        nd.filter(nd.created_at >= since_l)
        .join(F.broadcast(mn), nd.model_node_id == mn.id)
        .select(
            nd.created_at.alias("event_time"),
            F.lit("NODE_EDITED").alias("event_type"),
            F.lit("INPUT_CHANGE").alias("event_category"),
            nd.created_by.alias("actor"),
            F.concat(
                F.lit("Node edited: "), mn.node_display_name,
                F.lit(" | Validated: "), nd.input_validated.cast("string"),
            ).alias("description"),
            snull().alias("run_id"),
            mn.node_display_name.alias("node_name"),
            snull().alias("event_type_name"),
            nd.scenario_id.alias("scenario_id"),
            F.concat(F.lit("NE_"), nd.id.cast("string")).alias("source_key"),
        )
    )
    b6 = (
        ed.filter(ed.created_at >= since_l)
        .join(st, ed.scenario_event_type_id == st.id)
        .join(F.broadcast(et), st.event_type_id == et.id)
        .join(F.broadcast(pn), ed.population_node_id == F.col("tpn.id"), "left")
        .select(
            ed.created_at.alias("event_time"),
            F.lit("EVENT_EDITED").alias("event_type"),
            F.lit("EVENT_CHANGE").alias("event_category"),
            ed.created_by.alias("actor"),
            F.concat(
                F.lit("Event edited: "), et.display_name,
                F.coalesce(
                    F.concat(F.lit(" | Segment: "), F.col("tpn.node_display_name")),
                    F.lit(""),
                ),
            ).alias("description"),
            snull().alias("run_id"),
            snull().alias("node_name"),
            et.display_name.alias("event_type_name"),
            st.scenario_id.alias("scenario_id"),
            F.concat(F.lit("EVT_"), ed.id.cast("string")).alias("source_key"),
        )
    )
    b7 = sr.filter(sr.run_at >= since_l).select(
        sr.run_at.alias("event_time"),
        F.lit("RUN_TRIGGERED").alias("event_type"),
        F.lit("RUN").alias("event_category"),
        sr.run_by.alias("actor"),
        F.lit("Run started").alias("description"),
        sr.id.alias("run_id"),
        snull().alias("node_name"),
        snull().alias("event_type_name"),
        sr.scenario_id.alias("scenario_id"),
        F.concat(F.lit("RT_"), sr.id.cast("string")).alias("source_key"),
    )
    b8 = (
        sr.filter((sr.run_complete_at >= since_l) & sr.run_complete_at.isNotNull())
        .select(
            sr.run_complete_at.alias("event_time"),
            F.lit("RUN_COMPLETED").alias("event_type"),
            F.lit("RUN").alias("event_category"),
            sr.run_by.alias("actor"),
            F.concat(
                F.lit("Run completed: "), sr.run_status,
                F.coalesce(F.concat(F.lit(" | Error: "), sr.fail_reason), F.lit("")),
            ).alias("description"),
            sr.id.alias("run_id"),
            snull().alias("node_name"),
            snull().alias("event_type_name"),
            sr.scenario_id.alias("scenario_id"),
            F.concat(F.lit("RC_"), sr.id.cast("string")).alias("source_key"),
        )
    )

    timeline = reduce(DataFrame.unionByName, [b1, b2, b3, b4, b5, b6, b7, b8])
    out = timeline.filter(F.col("event_time").isNotNull()).orderBy(
        "event_time", "source_key"
    )
    return out.limit(10000)
