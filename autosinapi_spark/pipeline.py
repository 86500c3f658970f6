"""SINAPI ETL orchestrator — Fase 0-3 parity with the reference.

Mirrors ``/root/reference/autosinapi/etl_pipeline.py:426-510``:

- **Fase 0** schema bootstrap — empty SINAPI Parquet tables from the
  explicit StructTypes (``schemas.SINAPI_SCHEMAS``). Unlike the
  reference's drop-everything ``create_tables`` (database.py:83-94 —
  a documented quirk that destroys the historical series), bootstrap
  here is create-if-absent so monthly re-runs accumulate history, as
  ``docs/DataModel.md:7,48`` intends.
- **Fase 1** acquisition — callers hand in extracted CSV paths
  (``sources/archive.py`` covers local zips; HTTP is stubbed).
- **Fase 2** transform — discovered-header CSV reads + the operator
  library: maintenance log normalization (processor.py:168-204),
  price-sheet catalog + UF unpivot (processor.py:326-345), cost-sheet
  two-row flatten + code extraction (processor.py:350-405), Analítico
  structure split (processor.py:206-325), placeholder integrity
  repair (etl_pipeline.py:287-338).
- **Fase 3** load, order-critical (etl_pipeline.py:340-380): catalogs
  UPSERT -> structure OVERWRITE -> monthly facts APPEND-nodup with the
  reference-date stamp (``:374``), then maintenance-driven status sync
  (etl_pipeline.py:399-423).

Every load goes through the K2/K3/K5 sink operators, so PK and
column-subset semantics match PostgreSQL ON CONFLICT behaviour.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import EngineConfig
from .functions.coercion import (
    decimal_comma_to_double,
    extract_code,
    first_of_month,
    normalize_code,
    upper_trim,
)
from .operators.dedup import dedup_keep_first
from .operators.sinks import append_ignore_conflicts, upsert, write_overwrite
from .schemas import SINAPI_SCHEMAS
from .sources.csv_source import read_discovered_csv


def _uf_cols(df: DataFrame) -> list[str]:
    """F5 structural predicate: UF columns are 2-letter alphabetic names
    (processor.py:139-141)."""
    return [c for c in df.columns if len(c) == 2 and c.isalpha()]


def _unpivot_uf(df: DataFrame, id_cols: list[str], value_name: str) -> DataFrame:
    """R1 signature transform: UF columns -> (uf, value) rows, null
    values dropped BEFORE coercion (processor.py:134-158)."""
    ufs = _uf_cols(df)
    long = df.unpivot(id_cols, ufs, "uf", "__txt").where(
        F.col("__txt").isNotNull()
    )
    return long.withColumn(
        value_name, decimal_comma_to_double("__txt")
    ).drop("__txt")


@dataclass
class PipelineResult:
    """Run outcome, mirroring the reference's result contract
    (etl_pipeline.py:506-510): always carries ``status`` + ``message``.

    Documented divergence: the reference's ``records_inserted`` is a
    single integer total; here it is a per-table dict (more useful for
    a multi-table warehouse). ``total_records_inserted`` preserves the
    reference's integer-total shape for consumers of that contract.
    """

    status: str = "SUCESSO"
    message: str = "ETL concluído com sucesso"
    tables_updated: list[str] = field(default_factory=list)
    records_inserted: dict[str, int] = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "status": self.status,
            "message": self.message,
            "tables_updated": self.tables_updated,
            "records_inserted": self.records_inserted,
            "total_records_inserted": sum(self.records_inserted.values()),
        }


class SinapiPipeline:
    """One monthly SINAPI load into a Parquet warehouse directory."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        year: int,
        month: int,
        config: EngineConfig | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.ref_date = f"{year}-{int(month):02d}-01"
        self.cfg = config or EngineConfig(
            storage={"warehouse": warehouse},
            sinapi={"year": year, "month": month},
        )

    # -- storage ----------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def read(self, table: str) -> DataFrame:
        """Lazy scan of one warehouse table under its declared schema.

        ``SINAPI_SCHEMAS[table]`` is the contract ``bootstrap`` writes
        and every load preserves, so the read pins it rather than
        inferring it: an unpinned ``spark.read.parquet(dir)`` launches
        one Spark job per call just to read a footer back. Columns
        come back nullable, as with inference (tests/test_pipeline.py
        checks the written footers still match the declaration).
        """
        return self.spark.read.schema(SINAPI_SCHEMAS[table]).parquet(
            self.path(table)
        )

    def bootstrap(self) -> None:
        """Fase 0: create-if-absent empty tables (no drop — see module
        docstring on the reference's destructive quirk)."""
        for name, schema in SINAPI_SCHEMAS.items():
            if not os.path.exists(self.path(name)):
                empty = self.spark.createDataFrame([], schema)
                empty.write.mode("overwrite").parquet(self.path(name))

    def _save(self, table: str, merged: DataFrame) -> int:
        pinned = merged.localCheckpoint(eager=True)
        pinned.write.mode("overwrite").parquet(self.path(table))
        return pinned.count()

    # -- Fase 2: transforms ------------------------------------------------
    def process_manutencoes(self, csv_path: str) -> DataFrame:
        raw = read_discovered_csv(self.spark, csv_path, self.cfg.MANUTENCOES_HEADER_KEYWORDS)
        df = raw.select(
            normalize_code("CODIGO").alias("item_codigo"),
            upper_trim("TIPO").alias("tipo_item"),
            first_of_month(
                "REFERENCIA", self.cfg.MANUTENCOES_DATE_FORMAT
            ).alias("data_referencia"),
            upper_trim("MANUTENCAO").alias("tipo_manutencao"),
            F.trim("DESCRICAO").alias("descricao_item"),
        ).where(F.col("item_codigo").isNotNull())
        return dedup_keep_first(
            df,
            ["item_codigo", "tipo_item", "data_referencia", "tipo_manutencao"],
            ["descricao_item"],
        )

    def process_precos(
        self, csv_path: str, regime: str
    ) -> tuple[DataFrame, DataFrame]:
        """(catalog, long facts) from one ISD/ICD/ISE price sheet."""
        raw = read_discovered_csv(self.spark, csv_path, self.cfg.PRECOS_HEADER_KEYWORDS)
        typed = raw.withColumn("CODIGO", normalize_code("CODIGO")).where(
            F.col("CODIGO").isNotNull()
        )
        catalog = dedup_keep_first(
            typed.select(
                F.col("CODIGO").alias("codigo"),
                F.trim("DESCRICAO").alias("descricao"),
                upper_trim("UNIDADE").alias("unidade"),
            ),
            ["codigo"],
            ["descricao", "unidade"],
        )
        long = _unpivot_uf(typed, ["CODIGO"], "preco_mediano").select(
            F.col("CODIGO").alias("insumo_codigo"),
            "uf",
            F.lit(self.ref_date).cast("date").alias("data_referencia"),
            F.lit(regime).alias("regime"),
            F.col("preco_mediano").cast("decimal(18,4)"),
        )
        return catalog, long

    def process_custos(
        self, csv_path: str, regime: str
    ) -> tuple[DataFrame, DataFrame]:
        """(catalog, long facts) from one CSD/CCD/CSE cost sheet
        (two-row header + C4 code extraction)."""
        raw = read_discovered_csv(
            self.spark, csv_path, self.cfg.CUSTOS_HEADER_KEYWORDS, two_row_header=True
        )
        typed = raw.withColumn(
            "CODIGO",
            extract_code(F.col("CODIGO"), self.cfg.CUSTOS_CODIGO_REGEX),
        ).where(F.col("CODIGO").isNotNull())
        catalog = dedup_keep_first(
            typed.select(
                F.col("CODIGO").alias("codigo"),
                F.trim("DESCRICAO").alias("descricao"),
                upper_trim("UNIDADE").alias("unidade"),
            ),
            ["codigo"],
            ["descricao", "unidade"],
        )
        # cost columns came out of the two-row flatten as '{UF}_CUSTO';
        # strip the suffix back to the bare UF before the unpivot
        # (processor.py:394-403)
        cost_cols = {
            c.split("_")[0]: c
            for c in typed.columns
            if "CUSTO" in c and len(c.split("_")[0]) == 2
        }
        slim = typed.select(
            "CODIGO", *[F.col(c).alias(uf) for uf, c in cost_cols.items()]
        )
        long = _unpivot_uf(slim, ["CODIGO"], "custo_total").select(
            F.col("CODIGO").alias("composicao_codigo"),
            "uf",
            F.lit(self.ref_date).cast("date").alias("data_referencia"),
            F.lit(regime).alias("regime"),
            F.col("custo_total").cast("decimal(18,4)"),
        )
        return catalog, long

    def process_estrutura(
        self, csv_path: str
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Analítico split: (insumo edges, subcomposition edges, child
        details) (processor.py:206-325)."""
        raw = read_discovered_csv(
            self.spark, csv_path, ["TIPO_ITEM", "COEFICIENTE"]
        )
        typed = raw.select(
            upper_trim("TIPO_ITEM").alias("tipo_item"),
            normalize_code("CODIGO").alias("pai_codigo"),
            normalize_code("CODIGO_DO_ITEM").alias("item_codigo"),
            decimal_comma_to_double("COEFICIENTE").alias("coeficiente"),
            F.trim("DESCRICAO").alias("descricao"),
            upper_trim("UNIDADE").alias("unidade"),
        )
        # F1 membership filter: child rows
        children = typed.where(
            F.col("tipo_item").isin(self.cfg.ITEM_TYPE_INSUMO, self.cfg.ITEM_TYPE_COMPOSICAO)
            & F.col("pai_codigo").isNotNull()
            & F.col("item_codigo").isNotNull()
        )
        edges = dedup_keep_first(
            children.select(
                "pai_codigo", "item_codigo", "coeficiente", "tipo_item"
            ),
            ["pai_codigo", "item_codigo", "tipo_item"],
            ["coeficiente"],
        )
        insumo_edges = edges.where(F.col("tipo_item") == self.cfg.ITEM_TYPE_INSUMO).select(
            F.col("pai_codigo").alias("composicao_pai_codigo"),
            F.col("item_codigo").alias("insumo_filho_codigo"),
            "coeficiente",
        )
        sub_edges = edges.where(F.col("tipo_item") == self.cfg.ITEM_TYPE_COMPOSICAO).select(
            F.col("pai_codigo").alias("composicao_pai_codigo"),
            F.col("item_codigo").alias("composicao_filho_codigo"),
            "coeficiente",
        )
        # F2 negated membership: parent rows describe compositions.
        # NULL tipo_item must pass (pandas ~isin keeps NaN rows; Spark's
        # three-valued NOT IN would silently drop them)
        details = dedup_keep_first(
            typed.where(
                F.col("pai_codigo").isNotNull()
                & (
                    F.col("tipo_item").isNull()
                    | ~F.col("tipo_item").isin(self.cfg.ITEM_TYPE_INSUMO, self.cfg.ITEM_TYPE_COMPOSICAO)
                )
            ).select(
                F.col("pai_codigo").alias("codigo"), "descricao", "unidade"
            ),
            ["codigo"],
            ["descricao", "unidade"],
        )
        return insumo_edges, sub_edges, details

    # -- Fase 3: loads -------------------------------------------------------
    def _upsert_catalog(self, table: str, catalog: DataFrame) -> int:
        existing = self.read(table)
        incoming = catalog.select("codigo", "descricao", "unidade")
        merged = upsert(
            existing,
            incoming,
            ["codigo"],
            defaults={"status": F.lit(self.cfg.DEFAULT_ITEM_STATUS)},
        )
        return self._save(table, merged)

    def _sync_status(self, table: str, manut: DataFrame, tipo: str) -> None:
        """J4+W1: latest maintenance event decides ATIVO/DESATIVADO
        (etl_pipeline.py:399-423)."""
        w = Window.partitionBy("item_codigo").orderBy(
            F.desc("data_referencia"), F.desc("tipo_manutencao")
        )
        latest = (
            manut.where(F.col("tipo_item") == tipo)
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                F.col("item_codigo").alias("codigo"),
                F.when(
                    F.upper("tipo_manutencao").contains(self.cfg.DEACTIVATION_KEYWORD),
                    F.lit("DESATIVADO"),
                )
                .otherwise(F.lit("ATIVO"))
                .alias("__new_status"),
            )
        )
        cat = self.read(table)
        synced = cat.join(latest, "codigo", "left").select(
            *[c for c in cat.columns if c != "status"],
            F.coalesce("__new_status", "status").alias("status"),
        )
        self._save(table, synced.select(*cat.columns))

    def _append_facts(self, table: str, facts: DataFrame, pk: list[str]) -> int:
        existing = self.read(table)
        before = existing.count()
        merged = append_ignore_conflicts(existing, facts, pk)
        return self._save(table, merged) - before

    def run(
        self,
        manutencoes_csv: str,
        precos_csvs: dict[str, str],
        custos_csvs: dict[str, str],
        estrutura_csv: str,
    ) -> dict:
        """Full monthly load; returns the reference's result contract
        (etl_pipeline.py:506-510)."""
        res = PipelineResult(status=self.cfg.STATUS_SUCCESS)
        self.bootstrap()

        # maintenance log: K2 append on the 4-column PK
        manut = self.process_manutencoes(manutencoes_csv)
        n = self._append_facts(
            "manutencoes_historico",
            manut,
            ["item_codigo", "tipo_item", "data_referencia", "tipo_manutencao"],
        )
        res.tables_updated.append("manutencoes_historico")
        res.records_inserted["manutencoes_historico"] = n

        # price sheets: union catalogs (U1), collect facts
        insumo_cat, preco_facts = None, None
        for regime, path in precos_csvs.items():
            cat, facts = self.process_precos(path, regime)
            insumo_cat = cat if insumo_cat is None else insumo_cat.unionByName(cat)
            preco_facts = (
                facts if preco_facts is None else preco_facts.unionByName(facts)
            )
        custo_cat, custo_facts = None, None
        for regime, path in custos_csvs.items():
            cat, facts = self.process_custos(path, regime)
            custo_cat = cat if custo_cat is None else custo_cat.unionByName(cat)
            custo_facts = (
                facts if custo_facts is None else custo_facts.unionByName(facts)
            )

        insumo_edges, sub_edges, comp_details = self.process_estrutura(
            estrutura_csv
        )

        # placeholder repair (J1-J3): codes referenced by the structure
        # but absent from the sheet catalogs get template rows
        if insumo_cat is not None:
            missing = (
                insumo_edges.select(
                    F.col("insumo_filho_codigo").alias("codigo")
                )
                .distinct()
                .join(insumo_cat.select("codigo"), "codigo", "left_anti")
                .select(
                    "codigo",
                    F.format_string(
                        self.cfg.PLACEHOLDER_INSUMO_TEMPLATE, F.col("codigo")
                    ).alias("descricao"),
                    F.lit(self.cfg.PLACEHOLDER_DEFAULT_UNIT).alias("unidade"),
                )
            )
            insumo_cat = dedup_keep_first(
                insumo_cat.unionByName(missing), ["codigo"], ["descricao"]
            )
        comp_cat = custo_cat
        if comp_cat is not None:
            comp_universe = (
                sub_edges.select(
                    F.col("composicao_filho_codigo").alias("codigo")
                )
                .union(
                    insumo_edges.select(
                        F.col("composicao_pai_codigo").alias("codigo")
                    )
                )
                .union(
                    sub_edges.select(
                        F.col("composicao_pai_codigo").alias("codigo")
                    )
                )
                .distinct()
            )
            missing_comp = (
                comp_universe.join(
                    comp_cat.select("codigo"), "codigo", "left_anti"
                )
                .join(comp_details, "codigo", "left")
                .select(
                    "codigo",
                    F.coalesce(
                        "descricao",
                        F.format_string(
                            self.cfg.PLACEHOLDER_COMPOSICAO_TEMPLATE, F.col("codigo")
                        ),
                    ).alias("descricao"),
                    F.coalesce("unidade", F.lit(self.cfg.PLACEHOLDER_DEFAULT_UNIT)).alias("unidade"),
                )
            )
            comp_cat = dedup_keep_first(
                comp_cat.unionByName(missing_comp), ["codigo"], ["descricao"]
            )

        # Fase 3 load order: catalogs UPSERT first (FK targets), then
        # structure OVERWRITE, then monthly facts APPEND
        if insumo_cat is not None:
            self._upsert_catalog("insumos", insumo_cat)
            res.tables_updated.append("insumos")
        if comp_cat is not None:
            self._upsert_catalog("composicoes", comp_cat)
            res.tables_updated.append("composicoes")

        write_overwrite(
            insumo_edges.select(
                "composicao_pai_codigo",
                "insumo_filho_codigo",
                F.col("coeficiente").cast("double"),
            ),
            self.path("composicao_insumos"),
        )
        write_overwrite(
            sub_edges.select(
                "composicao_pai_codigo",
                "composicao_filho_codigo",
                F.col("coeficiente").cast("double"),
            ),
            self.path("composicao_subcomposicoes"),
        )
        res.tables_updated += ["composicao_insumos", "composicao_subcomposicoes"]

        if preco_facts is not None:
            n = self._append_facts(
                "precos_insumos_mensal",
                preco_facts,
                ["insumo_codigo", "uf", "data_referencia", "regime"],
            )
            res.tables_updated.append("precos_insumos_mensal")
            res.records_inserted["precos_insumos_mensal"] = n
        if custo_facts is not None:
            n = self._append_facts(
                "custos_composicoes_mensal",
                custo_facts,
                ["composicao_codigo", "uf", "data_referencia", "regime"],
            )
            res.tables_updated.append("custos_composicoes_mensal")
            res.records_inserted["custos_composicoes_mensal"] = n

        # status sync last (needs the upserted catalogs in place)
        self._sync_status("insumos", manut, self.cfg.ITEM_TYPE_INSUMO)
        self._sync_status("composicoes", manut, self.cfg.ITEM_TYPE_COMPOSICAO)
        return res.as_dict()
