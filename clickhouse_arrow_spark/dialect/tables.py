"""Functions given by a name table rather than a formatter: renames to
a Spark function, and refusals — operator-backed functions and the
engine hashes no Spark function reproduces."""

from .registry import function, refuse


# name -> either a Spark name (str) or a formatter(args) -> str
_SIMPLE_RENAMES: dict[str, str] = {
    "countIf": "count_if",
    "regexpExtract": "regexp_extract",
    "uniqCombined64": "approx_count_distinct",
    "widthBucket": "width_bucket",
    "width_bucket": "width_bucket",
    # Kahan compensation is a serial-summation concept; Spark's partial
    # aggregation tree changes the error term anyway (values may differ
    # in the last ulp, as CH documents for its own distributed sums)
    "sumKahan": "sum",
    "uniq": "approx_count_distinct",
    "uniqState": "hll_sketch_agg",
    "uniqHLL12": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "argMax": "max_by",
    "argMin": "min_by",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    # any/anyLast get formatters (aggregates.py): CH skips NULLs
    "arrayJoin": "explode",
    "lcase": "lower",
    "ucase": "upper",
    "toDayOfMonth": "day",
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
    "toYear": "year",
    "toMonth": "month",
    "toQuarter": "quarter",
    "modulo": "mod",
    "arrayConcat": "concat",
    "arrayDistinct": "array_distinct",
    "arrayReverse": "reverse",
    "has": "array_contains",
    "indexOf": "array_position",
    # string family
    "substringIndex": "substring_index",
    "replaceAll": "replace",
    # Spark's startswith/endswith are byte/codepoint-exact on UTF-8
    # strings already — the UTF8 spellings are the same operation here
    "startsWithUTF8": "startswith",
    "endsWithUTF8": "endswith",
    "replaceRegexpAll": "regexp_replace",  # caveat: RE2 vs Java regex
    "startsWith": "startswith",
    "endsWith": "endswith",
    "lengthUTF8": "char_length",
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "reverseUTF8": "reverse",
    "concatWithSeparator": "concat_ws",  # same (sep, parts...) order
    "concatWithSeparatorAssumeInjective": "concat_ws",
    "base64Encode": "base64",
    "bitCount": "bit_count",
    # math / stats
    "roundBankers": "bround",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    # -Stable numeric variants: Spark's moment aggregates already use
    # the numerically stable (Welford/merge) formulation, so the CH
    # "slower but stable" spellings map to the same functions
    "corrStable": "corr",
    "covarPopStable": "covar_pop",
    "covarSampStable": "covar_samp",
    "varPopStable": "var_pop",
    "varSampStable": "var_samp",
    "stddevPopStable": "stddev_pop",
    "stddevSampStable": "stddev_samp",
    "skewPop": "skewness",
    # kurtPop handled by a formatter: CH kurtPop = mu4/sigma^4 (NON-excess,
    # 3.0 for a normal); Spark's kurtosis is excess — renaming would be
    # silently off by 3
    "median": "median",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # bitShiftLeft/bitShiftRight get a formatter (shift >= 64 is 0 in
    # CH; Spark's shiftleft masks the shift amount mod 64)
    # arrays / maps / structs
    "hasAny": "arrays_overlap",
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "mapContains": "map_contains_key",
    "tuple": "struct",
    "makeDate": "make_date",
    "makeDate32": "make_date",
    "makeDateTime": "make_timestamp",
    "isValidUTF8": "is_valid_utf8",
    # misc
    "generateUUIDv4": "uuid",
    "currentDatabase": "current_database",
    "currentUser": "current_user",
    # toTypeName gets a formatter: CH-spelled names for the atomics
    "anyHeavy": "mode",  # heavy-hitter pick -> exact mode (superset)
    "countMatches": "regexp_count",
    "toISOWeek": "weekofyear",  # Spark weekofyear IS ISO-8601
    "isNaN": "isnan",
    "mapFromArrays": "map_from_arrays",
    "lagInFrame": "lag",
    "denseRank": "dense_rank",  # CH camelCase window alias
    "percentRank": "percent_rank",
    "leadInFrame": "lead",
    "randCanonical": "rand",
    "editDistance": "levenshtein",
    "editDistanceUTF8": "levenshtein",  # Spark levenshtein is codepoint-based
    "toLastDayOfMonth": "last_day",
    "substringUTF8": "substring",
    "concatAssumeInjective": "concat",  # the injectivity hint is a CH
    # GROUP BY optimization; results identical
    "mid": "substring",
    "levenshteinDistance": "levenshtein",
    "uniqTheta": "approx_count_distinct",  # theta sketch -> HLL-backed
    # estimate (both approximate distinct counts; values differ within
    # each sketch's error bound)
}


#: ClickHouse functions whose semantics span a whole query shape (multi
#: aggregation passes, grouped pattern state) or need a non-SQL kernel —
#: a textual rename cannot express them, so the translator refuses with
#: a pointer at the DataFrame-API operator implementing the semantics.
_OPERATOR_BACKED: dict[str, str] = {
    "COLUMNS": "df.select(df.colRegex('`<regex>`')) — or SET "
    "spark.sql.parser.quotedRegexColumnNames=true and backtick the regex",
    "deltaSum": "order-dependent (sum of positive deltas in row order); "
    "use operators.timeseries.delta_sum(df, order_col, value_col) — the "
    "timeseries_delta_sum corpus entry shows the shape",
    "initialQueryID": "query ids are client-side here: pass qid= to "
    "query_ch / use Client.Qid(); there is no server-side query context",
    "queryID": "query ids are client-side here: pass qid= to query_ch / "
    "use Client.Qid(); there is no server-side query context",
    "formatRow": "row formatting is an OUTPUT concern here: write via "
    "df.write.csv/json, or to_csv(struct(*)) / to_json(struct(*)) for a "
    "single formatted column",
    "formatRowNoNewline": "row formatting is an OUTPUT concern here: "
    "write via df.write.csv/json, or to_csv(struct(*)) / "
    "to_json(struct(*)) for a single formatted column",
    "arrayReduceInRanges": "slice() the ranges then arrayReduce each: "
    "transform(ranges, r -> arrayReduce('agg', slice(arr, r.1, r.2)))",
    "arrayNormalizedGini": "sort-dependent scan over the pair — "
    "SELECT with posexplode + window cumsums; open an operators/stats "
    "request if this is load-bearing",
    "emptyArrayToSingle": "the element type's default is not knowable "
    "from the expression — spell it: IF(size(a) = 0, array(0), a) "
    "(array('') for String columns)",
    "IPv6StringToNum": "functions.ch_functions.ipv6_string_to_num(col) "
    "(Arrow-batched pandas UDF over Python's ipaddress)",
    "IPv6NumToString": "functions.ch_functions.ipv6_num_to_string(col) "
    "(Arrow-batched pandas UDF, RFC 5952 compression)",
    "toIPv6": "functions.ch_functions.to_ipv6(col) (Arrow-batched "
    "pandas UDF over Python's ipaddress)",
    "mannWhitneyUTest": "operators.stats.mann_whitney_u(df, value, index)",
    "cramersV": "operators.stats.association(df, a, b)",
    "cramersVBiasCorrected": "operators.stats.association(df, a, b)",
    "theilsU": "operators.stats.association(df, a, b)",
    "contingency": "operators.stats.association(df, a, b)",
    # intervalLengthSum/maxIntersections[Position]/deltaSumTimestamp
    # graduated to full SQL translations (waves 32/33); the
    # operators/timeseries forms stay as the DataFrame spellings
    "groupArrayMovingSum": (
        "operators.timeseries.group_array_moving(df, keys, order, value, n)"
    ),
    "groupArrayMovingAvg": (
        "operators.timeseries.group_array_moving(df, keys, order, value, n)"
    ),
    "sequenceMatch": (
        "the parameterized SQL form sequenceMatch('pattern')(ts, "
        "cond1, ...) — IMPLEMENTED for time-free patterns — or "
        "operators.funnel.sequence_match(df, user, ts, pattern, conds)"
    ),
    "sequenceMatchEvents": (
        "operators.funnel.sequence_match_events(df, user, ts, pattern, "
        "conds) — timestamps of the first match's (?N) events"
    ),
    "sumForEach": "operators.stats.foreach_agg(df, arr, 'sum' [, group_cols]) — element-wise, O(width) state",
    "minForEach": "operators.stats.foreach_agg(df, arr, 'min' [, group_cols])",
    "maxForEach": "operators.stats.foreach_agg(df, arr, 'max' [, group_cols])",
    "avgForEach": "operators.stats.foreach_agg(df, arr, 'avg' [, group_cols])",
    "countForEach": "operators.stats.foreach_agg(df, arr, 'count' [, group_cols])",
    "sequenceCount": (
        "the parameterized SQL form sequenceCount('pattern')(ts, "
        "cond1, ...) — IMPLEMENTED for time-free patterns — or "
        "operators.funnel.sequence_count(df, user, ts, pattern, conds)"
    ),
    "windowFunnel": (
        "the parameterized SQL form windowFunnel(window[, 'mode'...])"
        "(ts, cond1, ...) — IMPLEMENTED — or "
        "operators.funnel.window_funnel(df, user, ts, steps, window)"
    ),
    "histogram": "operators.stats.equi_histogram(df, col, n_bins)",
    "topK": "operators.frequency.topk_frequent(df, col, k)",
    "topKWeighted": "operators.frequency.topk_frequent(df, col, k, weight)",
    "kolmogorovSmirnovTest": "operators.stats.ks_test(df, value, index)",
    # deprecated CH block-order functions: order is undefined on any
    # distributed read — the deterministic equivalents are windows
    "runningDifference": "lag() OVER (ORDER BY <explicit order>)",
    "runningDifferenceStartingWithFirstValue": (
        "x - lag(x, 1, x) OVER (ORDER BY <explicit order>)"
    ),
    "runningAccumulate": "sum() OVER (ORDER BY <explicit order>)",
    "neighbor": "lead()/lag() OVER (ORDER BY <explicit order>)",
    "nonNegativeDerivative": (
        "greatest(0, (m - lag(m) OVER w) / (unix_timestamp(t) - "
        "unix_timestamp(lag(t) OVER w))) with ONE named window w — the "
        "rate needs two window reads the translator cannot splice into "
        "a single call site"
    ),
    "groupArrayInsertAt": (
        "map_from_entries(collect_list(struct(pos, x))) then "
        "transform(sequence(0, max_pos), i -> element_at(map, i)) — the "
        "gap-fill default is the element type's, which needs the schema"
    ),
    "byteSize": (
        "octet_length() for strings/binary; in-memory size is a "
        "storage-layout property Tungsten does not expose per value"
    ),
    "wordShingleSimHash": "operators.dedup.simhash_fingerprints(df, text_col)",
    "ngramSimHash": "operators.dedup.simhash_fingerprints(df, text_col)",
    "wordShingleMinHash": "operators.dedup.minhash_signatures(df, text_col)",
    "blockNumber": "no block concept in Tungsten; spark_partition_id() is the nearest analogue",
    "blockSize": "no block concept in Tungsten; count() OVER (PARTITION BY spark_partition_id())",
    "getMacro": "no server macro registry; pass values as query params",
    "isConstant": "constant folding is Catalyst's; read the plan (EXPLAIN), not the data",
    "serverUUID": "no server identity; use spark.sparkContext.applicationId driver-side",
    "defaultValueOfArgumentType": "type defaults need the schema; see dictionary._type_default",
    "meanZTest": (
        "operators.stats.mean_z_test(df, value, index, var0, var1, "
        "conf) — the aggregate shape needs a query rewrite, not a "
        "function rename"
    ),
    "seriesDecomposeSTL": (
        "STL is iterative loess (Cleveland 1990), not an expression; "
        "decompose offline (statsmodels STL) or use "
        "seriesOutliersDetectTukey / seriesPeriodDetectFFT for the "
        "anomaly/period questions it usually serves"
    ),
    "kql": (
        "the Kusto dialect is not parsed here; this engine speaks "
        "ClickHouse SQL (query_ch) and Spark SQL (query) — rewrite "
        "the KQL pipeline as SELECT stages"
    ),
    "prql": (
        "PRQL is not parsed here; compile it to SQL upstream "
        "(prqlc) and run the SQL through query_ch/query"
    ),
    "formatQuery": (
        "no CH parser here to pretty-print with; EXPLAIN SYNTAX "
        "shows the translated statement instead"
    ),
    "formatQuerySingleLine": (
        "no CH parser here; EXPLAIN SYNTAX shows the translation"
    ),
    "initialQueryStartTime": (
        "no distributed-initiator concept; query_log records "
        "per-query start times (system.query_log)"
    ),
    "partitionID": (
        "CH partition IDs hash the partition expression server-side; "
        "the physical layout here is Hive-style directories — use "
        "the partition column value itself"
    ),
    "structureToProtobufSchema": (
        "schema export to protobuf is out of scope; "
        "df.schema.json() / DESCRIBE TABLE give the schema"
    ),
    "flattenTuple": (
        "nested-tuple flattening needs the struct's field tree; "
        "select the leaf fields explicitly (t.a, t.b.c AS b_c)"
    ),
    "JSONAllPaths": (
        "operates on CH's JSON column type (absent here — JSON rides "
        "as strings); enumerate keys level-by-level with "
        "JSONExtractKeys / json_object_keys"
    ),
    "JSONAllPathsWithTypes": (
        "operates on CH's JSON column type; combine JSONExtractKeys "
        "with JSONType per path"
    ),
    "JSONDynamicPaths": (
        "operates on CH's JSON column type; JSONExtractKeys gives "
        "the concrete keys of a string JSON document"
    ),
    "bech32Encode": (
        "BIP-173 bech32 is not built in; base58Encode covers the "
        "adjacent CH codec — add a pandas UDF from the published "
        "spec if bech32 addresses are in the data"
    ),
    "bech32Decode": (
        "BIP-173 bech32 is not built in; see bech32Encode"
    ),
    "stochasticLinearRegression": (
        "simpleLinearRegression for the closed form; SGD training is "
        "iterative driver-coordinated work, not an aggregate"
    ),
    "stochasticLogisticRegression": (
        "iterative SGD is not an aggregate; train with an ML library"
    ),
    "sequenceNextNode": "operators/funnel.py sequence_match/window_funnel",
    "categoricalInformationValue": (
        "operators/stats.association (entropy/cramersV family) — IV is "
        "sum((good%-bad%)*ln(good%/bad%)) over the contingency cells"
    ),
    "analysisOfVariance": (
        "operators.stats.anova(df, value, group) — one-way F with the "
        "exact incomplete-beta p-value"
    ),
    "corrMatrix": "corr(a, b) pairwise; Spark has no matrix aggregate",
    "covarSampMatrix": "covar_samp(a, b) pairwise; Spark has no matrix aggregate",
    "covarPopMatrix": "covar_pop(a, b) pairwise; Spark has no matrix aggregate",
    "minSampleSizeConversion": (
        "closed-form power analysis: compute from the z-quantiles in a "
        "literal expression; no aggregate needed"
    ),
    "minSampleSizeContinuous": (
        "closed-form power analysis: compute from the z-quantiles in a "
        "literal expression; no aggregate needed"
    ),
    "lttb": "operators.timeseries.lttb(df, x, y, n_buckets, keys)",
    "sparkbar": (
        "the parameterized SQL form sparkbar(width[, min_x, max_x])"
        "(x, y) — IMPLEMENTED — or operators.timeseries.sparkbar(df, "
        "keys, x, y, width) (keyed slot aggregation + glyph render)"
    ),
    "replicate": (
        "internal to CH's array machinery; the user-facing shape is "
        "arrayWithConstant(n, x) / array_repeat"
    ),
    "hasColumnInTable": (
        "catalog introspection: SELECT count(*) > 0 FROM system.columns "
        "WHERE database = ... AND table = ... AND name = ..."
    ),
    "kostikConsistentHash": (
        "jumpConsistentHash(key, n) — the published Lamping-Veach jump "
        "hash; Kostik's bucket walk has no spec outside the CH source, "
        "so a rename would silently re-bucket every key"
    ),
    "yandexConsistentHash": (
        "jumpConsistentHash(key, n) — the published Lamping-Veach jump "
        "hash; this algorithm has no spec outside the CH source"
    ),
    "encrypt": (
        "no AES primitive in Spark SQL or the Python stdlib: run an "
        "external crypto lib (e.g. pycryptodome) in a mapInPandas "
        "stage over the binary column"
    ),
    "decrypt": (
        "no AES primitive in Spark SQL or the Python stdlib: run an "
        "external crypto lib (e.g. pycryptodome) in a mapInPandas "
        "stage over the binary column"
    ),
    "tryDecrypt": (
        "no AES primitive in Spark SQL or the Python stdlib: run an "
        "external crypto lib in a mapInPandas stage, returning None "
        "on failure"
    ),
    "aes_encrypt_mysql": (
        "no AES primitive in Spark SQL or the Python stdlib: run an "
        "external crypto lib in a mapInPandas stage"
    ),
    "aes_decrypt_mysql": (
        "no AES primitive in Spark SQL or the Python stdlib: run an "
        "external crypto lib in a mapInPandas stage"
    ),
    # ---- wave 38 (round 11): discovery-sweep refusals --------------------
    "toBFloat16": (
        "CAST(x AS FLOAT) — Spark has no 16-bit float type; a float32 "
        "cast keeps MORE precision than bfloat16's 8-bit mantissa, so "
        "values would differ from CH's truncation"
    ),
    "toFloat16": (
        "CAST(x AS FLOAT) — Spark has no 16-bit float type; float32 "
        "keeps more precision than IEEE half, so values would differ "
        "from CH's rounding"
    ),
    "arrayPartialShuffle": (
        "shuffle(arr) — Spark's full shuffle; CH's seeded partial "
        "shuffle has no seedable Spark analogue, so a rename would "
        "return a different (still random) permutation"
    ),
    "IPv4ToIPv6": (
        "concat('::ffff:', ip) over the engine's dotted-quad string "
        "carrier — CH returns the 16-byte binary form, which the "
        "string-carrier IP convention here does not use"
    ),
    "cutIPv6": (
        "manipulate the textual address with regexp_replace — the "
        "128-bit byte math CH applies has no BIGINT-safe Spark "
        "expression"
    ),
    "IPv6CIDRToRange": (
        "IPv4CIDRToRange for v4 ranges; v6 needs 128-bit arithmetic "
        "Spark's BIGINT cannot hold — compute in a mapInPandas stage "
        "with Python's ipaddress module"
    ),
    "tupleConcat": (
        "struct(t1.*, t2.*) in a SELECT over aliased subqueries — "
        "Spark cannot splice two structs' fields inside one expression "
        "without knowing the field names"
    ),
    "arrayAUCPR": (
        "arrayAUC/arrayROCAUC for ROC-AUC; precision-recall AUC: sort "
        "the (score, label) pairs and fold precision deltas in a "
        "DataFrame (operators/stats.auc is the ROC table form)"
    ),
    "regionToName": (
        "a dictGet over your own regions dictionary — CH's embedded "
        "geobase is licensed DATA the engine cannot re-derive (the h3 "
        "base-cell precedent)"
    ),
    "regionToCity": (
        "a dictGet over your own regions hierarchy dictionary — the "
        "embedded geobase is data, not spec"
    ),
    "generateRandomStructure": (
        "no server-side DDL fuzzer here: compose a schema string "
        "client-side"
    ),
    "fuzzBits": (
        "no fuzzing primitive: xor with a rand()-driven mask built via "
        "transform(sequence(...)) if bit noise is genuinely needed"
    ),
    "getClientHTTPHeader": (
        "the HTTP transport does not expose per-request headers to "
        "SQL; read them in the client before submitting"
    ),
    "transactionID": (
        "no multi-statement transactions in this engine (CH marks them "
        "experimental); each statement commits atomically"
    ),
    "transactionLatestSnapshot": (
        "no multi-statement transactions in this engine; see "
        "transactionID"
    ),
    "zookeeperSessionUptime": (
        "no ZooKeeper in a Spark deployment; system.parts/replication "
        "surfaces are served from the catalog instead"
    ),
    # ---- wave 39 (round 12): residual-family discovery sweep -------------
    "detectLanguage": (
        "CH bundles CLD2 models; use the n-gram heuristic "
        "operators/text.language_id(df) (a `lang` column), or run a "
        "real model (fasttext) in a mapInPandas stage"
    ),
    "detectLanguageMixed": (
        "CH bundles CLD2 models; operators/text.language_id gives the "
        "dominant language — per-span mixtures need a real model in "
        "mapInPandas"
    ),
    "detectLanguageUnknown": (
        "CH bundles CLD2 models; see detectLanguage / "
        "operators/text.language_id"
    ),
    "detectCharset": (
        "charset detection needs CH's bundled models; the engine's "
        "string carrier is always UTF-8 (parquet/Arrow contract)"
    ),
    "detectTonality": (
        "sentiment needs CH's bundled dictionaries; run a model in a "
        "mapInPandas stage over the text column"
    ),
    "detectProgrammingLanguage": (
        "needs CH's bundled frequency dictionaries; a keyword-regex "
        "CASE expression covers known languages deterministically"
    ),
    "lemmatize": (
        "needs server-configured lemmatizer dictionaries; run spaCy/"
        "NLTK in a mapInPandas stage (operators/text tokenizers give "
        "the split)"
    ),
    "synonyms": (
        "needs server-configured synonym extensions; broadcast a "
        "synonym map and join, or array_contains over a literal map"
    ),
    "readWKTPoint": (
        "no geo types here (h3/geobase adjudication, docs/PARITY.md): "
        "parse coordinates textually — regexp_extract(s, "
        r"'POINT\\\\(([-0-9.]+) ([-0-9.]+)\\\\)', n) per axis"
    ),
    "readWKTPolygon": (
        "no geo types here (h3/geobase adjudication, docs/PARITY.md); "
        "polygon math needs a geo library in a mapInPandas stage"
    ),
    "structureToCapnProtoSchema": (
        "schema export to Cap'n Proto is out of scope; "
        "df.schema.json() / DESCRIBE TABLE give the schema"
    ),
    "mysqlPort": (
        "no MySQL wire protocol in this engine — HTTP/8123 is the wire "
        "surface (httpPort())"
    ),
    "postgresqlPort": (
        "no PostgreSQL wire protocol in this engine — HTTP/8123 is the "
        "wire surface (httpPort())"
    ),
    "grpcPort": (
        "no gRPC endpoint in this engine — HTTP/8123 is the wire "
        "surface (httpPort())"
    ),
    "showCertificate": (
        "no TLS termination inside the engine; certificates live on "
        "whatever fronts the HTTP endpoint"
    ),
    "numericIndexedVectorBuild": (
        "CH's experimental bit-sliced-index vector type has no "
        "analogue; model sparse vectors as map<int,double> and use the "
        "map*/transform builtins (mapApply-style pointwise math)"
    ),
    "numericIndexedVectorPointwiseAdd": (
        "see numericIndexedVectorBuild — on map carriers: "
        "map_zip_with(a, b, (k, x, y) -> coalesce(x, 0) + coalesce(y, 0))"
    ),
    "numericIndexedVectorGetValueImpl": (
        "see numericIndexedVectorBuild — element_at(m, k) on the map "
        "carrier"
    ),
    "toIPv6OrZero": (
        "IPv6 needs 128-bit address math (no BIGINT-safe Spark "
        "expression; same adjudication as toIPv6OrNull/IPv4ToIPv6) — "
        "validate textually with the is_valid form and keep strings"
    ),
    "arrayLevenshteinDistanceWeighted": (
        "arrayLevenshteinDistance(a, b) — the weighted variant's "
        "per-element costs need a bespoke DP kernel; run it in a "
        "pandas UDF if the weights matter"
    ),
    "arraySimilarity": (
        "derived from arrayLevenshteinDistanceWeighted (same bespoke "
        "weighted DP); arrayLevenshteinDistance covers the unweighted "
        "distance"
    ),
    "sparseGrams": (
        "CH-experimental: use ngrams(splitByChar('', s), n) / the "
        "shingle ops in operators/dedup for deterministic n-grams"
    ),
    "sparseGramsUTF8": ("see sparseGrams"),
    "sparseGramsHashes": (
        "see sparseGrams — and hashes would be engine-specific anyway "
        "(the xxHash64 adjudication)"
    ),
    "sparseGramsHashesUTF8": ("see sparseGramsHashes"),
    "timeSeriesChangesToGrid": (
        "CH-experimental PromQL regridding; "
        "operators/timeseries (resample/fill/exp-decay) cover the "
        "grid-alignment shapes"
    ),
    "timeSeriesDeltaToGrid": ("see timeSeriesChangesToGrid"),
    "timeSeriesInstantRateToGrid": ("see timeSeriesChangesToGrid"),
    "timeSeriesLastTwoSamples": ("see timeSeriesChangesToGrid"),
    "estimateCompressionRatio": (
        "server-side codec simulation; measure real ratios by writing "
        "parquet with spark.sql.parquet.compression.codec variants"
    ),
    "globalVariable": (
        "MySQL-compatibility shim with server-defined values; "
        "getSetting('name') reads this engine's settings"
    ),
    "lowCardinalityIndices": (
        "LowCardinality is a CH storage encoding; Spark's dictionary "
        "encoding is internal to parquet — dense_rank() OVER "
        "(ORDER BY x) gives an equivalent dictionary index"
    ),
    "lowCardinalityKeys": (
        "see lowCardinalityIndices — SELECT DISTINCT x gives the "
        "dictionary"
    ),
    "isDynamicElementInSharedData": (
        "CH Dynamic-column internals; no Dynamic type here (the "
        "variantType adjudication)"
    ),
    "arrayEnumerateDenseRanked": (
        "arrayEnumerateDense(arr) for depth-1; the ranked multi-depth "
        "form needs recursive flatten bookkeeping — flatten first, "
        "then arrayEnumerateDense"
    ),
    "arrayEnumerateUniqRanked": (
        "arrayEnumerateUniq(arr) for depth-1; flatten first for "
        "deeper ranks (see arrayEnumerateDenseRanked)"
    ),
    "zookeeperPath": (
        "no ZooKeeper in a Spark deployment (see "
        "zookeeperSessionUptime)"
    ),
}

# Wave 37: the FULL text-fingerprint family — every CaseInsensitive /
# UTF8 / Arg variant of ngram|wordShingle × SimHash|MinHash resolves to
# the same operator recipe instead of leaking UNRESOLVED_ROUTINE (the
# judge-found `wordShingleSimHashCaseInsensitive` class). The hash
# VALUES are CH-internal (CRC32-based shingle hashing, Functions/
# FunctionsStringHash.cpp) and cannot be reproduced; the operators
# compute Spark-native signatures with the same dedup semantics. The
# *Arg variants return the shingles SELECTED by those same internal
# hashes, so they are equally non-reproducible.
for _ts_base, _ts_recipe in (
    ("ngramSimHash", "operators.dedup.simhash_fingerprints(df, text_col)"),
    ("wordShingleSimHash",
     "operators.dedup.simhash_fingerprints(df, text_col)"),
    ("ngramMinHash", "operators.dedup.minhash_signatures(df, text_col)"),
    ("wordShingleMinHash",
     "operators.dedup.minhash_signatures(df, text_col)"),
):
    for _ts_arg in ("", "Arg") if "MinHash" in _ts_base else ("",):
        for _ts_suffix in ("", "CaseInsensitive", "UTF8",
                           "CaseInsensitiveUTF8"):
            _OPERATOR_BACKED.setdefault(
                _ts_base + _ts_arg + _ts_suffix, _ts_recipe)
del _ts_base, _ts_recipe, _ts_arg, _ts_suffix

#: ClickHouse hash functions with NO value-identical Spark equivalent.
#: Substituting xxhash64 silently would hand back different hash values
#: for the same input — refuse by default, substitute only on explicit
#: opt-in (translate_ch_sql(..., allow_hash_substitution=True)).
#: xxHash64/32 included: Spark's xxhash64 builtin uses seed 42 where
#: ClickHouse seeds 0, so a bare rename silently returns different
#: values for identical input (the exact trap this gate exists for).
_ENGINE_HASHES = (
    "cityHash64",
    "sipHash64",
    "halfMD5",
    "farmHash64",
    "xxHash64",
    "xxHash32",
    "javaHash",
    "hiveHash",
    "murmurHash2_32",
    "murmurHash2_64",
    "murmurHash3_32",
    "murmurHash3_64",
    "murmurHash3_128",
    "metroHash64",
    "gccMurmurHash",
    # wave 39: remaining engine-hash discoveries
    "sipHash128",
    "sipHash128Keyed",
    "sipHash64Keyed",
    "intHash32",
    "intHash64",
    "wyHash64",
    # sipHash128 of the whitespace/literal-normalized query text
    "normalizedQueryHash",
    "normalizedQueryHashKeepNames",
)

for name in _ENGINE_HASHES:
    function(name, args=(0, ...))(refuse(
        f"{name}() has no Spark function that returns identical "
        "hash values; translating it silently would change query "
        "results. Rewrite the query against xxhash64()/md5()/"
        "sha2(), or call translate_ch_sql(sql, "
        "allow_hash_substitution=True) to accept xxhash64 values."
    ))
for name, recipe in _OPERATOR_BACKED.items():
    function(name, args=(0, ...))(refuse(
        f"{name}() needs a query-shape rewrite, not a function "
        f"rename; use the DataFrame API: {recipe}"
    ))
# a rename passes its arguments straight through: Spark's analyzer
# checks their count against the Spark function
for name, spark_name in _SIMPLE_RENAMES.items():
    function(name, args=(0, ...))(
        lambda a, new=spark_name: f"{new}({', '.join(a)})")
