"""Pipeline configuration.

The reference drives everything off a per-repo config object
(ferenda/documentrepository.py:200-680: alias, base url, lang, ...).
Here the config is a small frozen dataclass carried to executors by
closure capture — cheap, immutable, broadcast-safe.
"""

from __future__ import annotations

from dataclasses import dataclass


#: RDF vocabulary (namespace table mirrors ferenda/util.py:78-93).
NS = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "dcterms": "http://purl.org/dc/terms/",
    "bibo": "http://purl.org/ontology/bibo/",
    "prov": "http://www.w3.org/ns/prov#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "rfc": "http://example.org/ontology/rfc/",
}

RDF_TYPE = NS["rdf"] + "type"
OWL_SAMEAS = NS["owl"] + "sameAs"
DCT = NS["dcterms"]
BIBO = NS["bibo"]
PROV_GENERATED_BY = NS["prov"] + "wasGeneratedBy"


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for one pipeline run.

    base_uri/alias mirror the reference's canonical_uri minting
    (documentrepository.py:693-709: "%s/res/%s/%s" % (url, alias,
    basefile)).
    """

    base_uri: str = "https://kg.example.org"
    alias: str = "rfc"
    pipeline_id: str = "ferenda_spark.pipeline"
    # broadcast gazetteer fuzzy-match cutoff (documentrepository.py:568
    # uses difflib cutoff=0.8)
    fuzzy_cutoff: float = 0.8
    # run_pipeline's stage-table buckets — at 10^12 pages an Iceberg
    # bucket transform; locally it sizes the parquet shuffles.
    url_buckets: int = 32
    # max sub-resources per doc (documentrepository.py:348-352)
    max_resources: int = 1000

    def doc_uri_template(self) -> str:
        return f"{self.base_uri}/res/{self.alias}/{{docid}}"
