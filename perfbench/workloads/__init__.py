"""The benchmark's workloads, by name."""

from workloads.cdc_upsert import CdcUpsert
from workloads.dedup_fold import DedupFold
from workloads.olap_mix import OlapMix

WORKLOADS = {
    "cdc_upsert": CdcUpsert,
    "dedup_fold": DedupFold,
    "olap_mix": OlapMix,
}
