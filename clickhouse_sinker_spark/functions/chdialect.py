"""ClickHouse SQL dialect → Spark SQL translation (documented subset).

The reference's users write ClickHouse SQL against the tables the sinker
loads (docs/dev/design.md; the query layer this repo owns natively per
SURVEY §2.7).  ``translate_ch_sql`` rewrites the common ClickHouse-isms to
Spark SQL so those queries run unchanged on this engine:

===========================  =========================================
ClickHouse                   Spark SQL
===========================  =========================================
toStartOfMinute/Hour/Day...  date_trunc('MINUTE'/'HOUR'/..., x)
toMonday(x)                  date_trunc('WEEK', x)
toDate(x) / toDateTime(x)    to_date(x) / to_timestamp(x)
toYYYYMM(x) / toYYYYMMDD(x)  CAST(date_format(x, 'yyyyMM[dd]') AS INT)
toHour/Minute/Second(x)      hour/minute/second(x)
toYear/Month/Quarter(x)      year/month/quarter(x)
toDayOfMonth(x)              day(x)
toDayOfWeek(x)               ((dayofweek(x) + 5) % 7) + 1   (CH: 1=Mon)
toUnixTimestamp(x)           unix_timestamp(x)
fromUnixTimestamp(x)         timestamp_seconds(x)
dateDiff('u', a, b)          timestampdiff(U, a, b)
addDays/Hours/...(x, n)      timestampadd(DAY/HOUR/..., n, x)
subtractDays/...(x, n)       timestampadd(DAY/..., -(n), x)
formatDateTime(x, '%Y-%m')   date_format(x, 'yyyy-MM')  (%-tokens mapped)
position(h, n)               locate(n, h)     (1-based, case-SENSITIVE)
startsWith/endsWith(s, p)    startswith/endswith(s, p)
leftPad/rightPad(s, n, p)    lpad/rpad(s, n, p)
trimLeft/trimRight/trimBoth  ltrim/rtrim/trim
replaceAll(s, a, b)          replace(s, a, b)
lengthUTF8/lowerUTF8/...     length/lower/upper
length(x)                    octet_length (CH counts BYTES) / size for
                             arrays (catalog- or producer-typed)
toUInt*/toInt*(x)            CAST(x AS BIGINT)   (toUInt64 → DECIMAL(20,0))
toFloat32/64(x)              CAST(x AS DOUBLE)
toString(x)                  CAST(x AS STRING)
uniq(x)                      approx_count_distinct(x)
uniqExact(x)                 count(DISTINCT x)
countIf(c)                   count_if(c)
sumIf(x, c) / avgIf / minIf  sum(x) FILTER (WHERE c) / avg / min / max
quantile(p)(x)               percentile_approx(x, p)
quantileExact(p)(x)          percentile(x, p)
argMax(a, b) / argMin(a, b)  max_by(a, b) / min_by(a, b)
any(x) / anyLast(x)          first(x) / last(x)
groupArray(x)                collect_list(x)
groupUniqArray(x)            collect_set(x)
arrayJoin(x)                 explode(x)
arrayMap(f, a)               transform(a, f)       (CH lambda syntax ==
arrayFilter(f, a)            filter(a, f)           Spark lambda syntax)
arrayExists(f, a)            exists(a, f)
arrayAll(f, a)               forall(a, f)
arrayCount(f, a)             size(filter(a, f))
arraySum(a) / arraySum(f,a)  aggregate(a|transform(a,f), 0D, (s,x)->s+x)
arrayEnumerate(a)            sequence(1, size(a))
arrayDistinct/Sort/Reverse   array_distinct / array_sort / reverse
arrayConcat / arrayFlatten   concat / flatten
arrayMin / arrayMax          array_min / array_max
arrayStringConcat(a[, sep])  array_join(a, sep|'')
indexOf(arr, x)              array_position(arr, x)
has(arr, x)                  array_contains(arr, x)
hasAny(a, b) / hasAll(a, b)  arrays_overlap(a,b) / forall(b, contains a)
empty(x) / notEmpty(x)       (length|size(x) = 0) / (... > 0)  (size when
                             x is an array-producing expression)
splitByChar(sep, s)          split(s, sep)    (sep regex-escaped)
splitByString(sep, s)        split(s, sep)    (sep regex-escaped)
JSONExtractString(j, k...)   get_json_object(j, '$.k...')
JSONExtractInt/Float/Bool    CAST(get_json_object(...) AS BIGINT/DOUBLE/BOOLEAN)
JSONExtractRaw(j, k...)      get_json_object(j, '$.k...')
JSONHas(j, k...)             (get_json_object(...) IS NOT NULL)
JSONLength(j[, k...])        json_array_length ∪ object key count ∪ 0
visitParamExtractString/Has  same as the JSONExtract forms (legacy names)
extract(s, 're')             regexp_extract(s, 're', 1|0)  (1 if the
                             pattern has a capture group, else 0)
intDiv(a, b)                 (a DIV b)
modulo(a, b)                 (a % b)
multiIf(c1, v1, ..., e)      CASE WHEN c1 THEN v1 ... ELSE e END
ifNull(a, b)                 coalesce(a, b)
isNull(x) / isNotNull(x)     (x IS NULL) / (x IS NOT NULL)
assumeNotNull/toNullable/    (x)   (identity — CH engine artifacts)
materialize(x)
now() / today()              current_timestamp() / current_date()
cramersV/contingency(a, b)   chi-square over distinct-pair counts from
                             one collect_list (NULL pairs skipped)
rankCorr(x, y)               Spearman (Pearson over average ranks):
                             collect_list + bound sorted-array ranks
welch/studentTTest(v, i)     (t, p) tuple: moments JVM-side, Student
                             CDF via exact incomplete-beta Arrow UDF
char(b1, b2, …)              raw-byte string assembly via unhex (CH
                             casts each arg to UInt8; Spark's char is a
                             single codepoint)
lower/upper (lcase/ucase)    ASCII-only case folding via translate()
                             (CH contract; *UTF8 forms are Unicode)
hex/bin(x)                   whole-byte padding for integers
unbin(s)                     bin⁻¹: bits → raw-byte string (Arrow UDF;
                             left-pads to a byte like unhex; NULL on
                             non-[01] where CH is impl-defined)
                             (CH hex(1) = '01', bin(1) = '00000001');
                             hex is a no-op for strings
MD5/SHA1/SHA2xx(s)           unhex(md5/sha1/sha2(s[, bits])) — CH
                             returns raw bytes, Spark builtins hex strings
halfMD5(x)                   first 8 MD5 bytes big-endian (Arrow UDF)
sipHash64/xxHash64/32(x)     ch_* Arrow UDFs, CH-exact seed-0 bytes
                             (Spark's xxhash64 seeds with 42); typed
                             argument gate (string / to[U]IntN wrapper)
xxh3(x)                      XXH3_64bits seed 0 (r9; algorithm AND
                             default secret proven against system
                             libxxhash — zero recall surface)
stem('lang', w)              Snowball via the SAME libstemmer CH links
                             (r9; CH docs example pinned; lemmatize/
                             synonyms stay refused — dictionary-backed)
formatReadableTimeDelta      365d-year/30.5d-month decomposition, both
 (d[, 'max_unit'])           CH docs tables pinned (r9; minimum_unit
                             form refuses — CH-version-dependent)
cityHash64(x)                CityHash v1.0.2 as frozen by CH (r8; absl-
                             proven primitives, see chudfs note)
wyHash64(s)                  wyhash FINAL VERSION 3, seed 0 (r11; the
                             revision settled empirically — CH docs
                             vector + all 7 published f3 vectors)
murmurHash2_32/64(x)         MurmurHash2 / MurmurHash64A seed 0 (r8;
                             SMHasher + libstdc++ proofs)
murmurHash3_32/64/128(x)     Murmur3 x86_32 / x64_128-low / x64_128
                             bytes, seed 0 (Spark-JVM + mmh3 proofs)
sipHash128(x)                CH's NON-standard (v0^v1, v2^v3) halves
sipHash64/128Keyed           explicit-key forms — key spelled (k0, k1)
 ((k0, k1), x)               at SQL level; libsodium crypto_shorthash
                             bit-equality proof (r9)
sipHash128Reference[Keyed]   the OFFICIAL 128-bit SipHash-2-4; bit-equal
                             to libsodium crypto_shorthash_siphashx24
intHash32/intHash64(n)       salted CH integer mixers (salt constants
                             documented recall-only)
farmFingerprint64(x)         farmhash PORTABLE Fingerprint64, bit-equal
                             to Guava's independent implementation
javaHash/hiveHash(s)         JLS String.hashCode / sign-cleared form
jumpConsistentHash(k, n)     Lamping-Veach published algorithm verbatim
CRC32IEEE/CRC64(s)           CH's init-0 no-final-xor reflected CRCs
                             (r9; fold machinery zlib/liblzma-proven —
                             plain CRC32 passes through: Spark's builtin
                             IS CH's zlib variant)
byteSwap / bitRotate-        width-gated bit ops (to[U]IntN wrapper
Left/Right(to[U]IntN(x)…)    supplies the wrap width)
sumWithOverflow(to[U]IntN)   exact DECIMAL(38) sum reduced mod 2^bits
geohashEncode/Decode         Niemeyer's published scheme; decode =
                             cell center (lon, lat) like CH
geohashesInBox(...)          snap-to-grid cell sweep (lon-outer),
                             coverage-pinned vs geohashEncode
readWKTPoint/Ring/Polygon/   OGC WKT parsers → nested tuple arrays;
 MultiPolygon(s)             WKT literals fold into pointInPolygon
                             at translate time (wkt()/svg() refuse)
JSONType(j[, path])          Arrow UDF: simdjson-style type names
JSONExtractArrayRaw(j[, p])  Arrow UDF: raw JSON element slices
JSONExtractKeysAndValues     from_json(map<string,string>) + per-entry
 (j[, p], 'T')               try_cast, non-converting keys skipped
exponentialMovingAverage     2^-decay fold normalized by the closed
 (h)(v, t)                   infinite weight series
exponentialTimeDecayed-      e-decay folds relative to the group's
 Avg/Sum/Count/Max(x)(v, t)  last timestamp
deltaSumTimestamp(v, t)      Σ positive consecutive deltas, t-sorted
nonNegativeDerivative        window fn → clamped LAG rate over the
 (m, t[, INTERVAL]) OVER w   captured window spec
mannWhitneyUTest[(p)](v, i)  two-sided tie/continuity-corrected U + p
                             (one Arrow UDF per group; one-sided refuses)
kolmogorovSmirnovTest        two-sided D + p: 'asymp' Kolmogorov
 [(alt[, method])](v, i)     series; 'exact'/'auto' (r11) lattice-path
                             permutation count over the exact integer
                             deviation, brute-force-model-pinned;
                             one-sided refuses
largestTriangleThreeBuckets  Steinarsson-2013 reference bucket rule,
 /lttb(n)(x, y)              (x,y)-sorted fold → array of tuples
meanZTest(σx²,σy²,cl)(v, i)  known-variance z, p via erfc, CI via
                             bisection-exact normal quantile
proportionsZTest(sx,sy,      two-proportion z (pooled/unpooled), pure
 tx,ty,cl,pool)              JVM arithmetic, Wald CI
firstSignificantSubdomain /  CH last-two-labels algorithm over the
cutToFirstSignificant-       embedded public-suffix snapshot
Subdomain(u)                 (psl_snapshot.py)
divideDecimal/multiply-      exact integer arithmetic, TRUNCATED at the
Decimal(a, b, s)             explicit result scale (Spark HALF_UPs)
toDecimalString(x, s)        fixed-scale text, half away from zero
theilsU(a, b)                CH CrossTab.h orientation (r9): the
                             NEGATIVE of the textbook U; docs example
                             reproduced to 15 digits
cramersVBiasCorrected(a,b)   Bergsma's published correction (r9)
minSampleSizeConversion /    closed-form A/B power analysis (r9);
minSampleSizeContinous       continuous form pinned to the CH docs
                             example; translate-time AS241 quantiles
ngramDistance/ngramSearch    exact 4-gram multiset measures, all 8
 [CaseInsensitive][UTF8]     spellings (r9; CH's 2^16 CRC-slot fold
                             documented as a deliberate delta)
idnaEncode/tryIdnaEncode/    UTS#46 nontransitional via the public
idnaDecode(s)                idna reference package (r9)
polygonAreaCartesian /       signed shoelace (boost orientation, CH
 polygonPerimeterCartesian   docs 12.5 pin; CCW holes subtract) /
 ([[ring][, holes…]])        Euclidean edges incl. the closing one (r9)
pointInPolygon((x,y), ring   even-odd ray casting, literal rings,
 [, hole…])                  holes XOR (r9; CH docs example pinned)
polygonConvexHullCartesian   translate-time monotone-chain fold of a
 (polygon literal)           literal polygon — boost graham_andrew
                             output convention (clockwise, closed,
                             lex-min start, strict corners) (r11)
arrayNormalizedGini(p, l)    published normalized Gini: exact-rational
                             cumulative-share folds, rounded once
                             (tuple of pred/ideal/normalized)
arrayAUC(scores, labels)     tie-averaged rank-sum ROC area (r9; CH
                             docs example 0.75; ties count half)
arraySplit/arrayReverse-     consecutive-group splitting, pure JVM
Split(f, arr[, arr2])        (r9; CH docs examples pinned)
arrayZipUnaligned(a, b)      zip_with (NULL-pads the shorter side)
mapSort/mapReverseSort(m)    sort_array over map_entries (plain forms)
toFixedString(s, N)          NUL-pad to N BYTES, throw when longer
exponentialTimeDecayed*(x)   window form (r9): per-row decay anchored
 (v, t) OVER (w)             at the CURRENT row's timestamp
arrayMap/Filter/Exists/      TWO-array forms zip element-wise via
All/Count(f, a, b)           zip_with (r9 fix: Spark's 2-param lambda
                             binds the element INDEX, not a 2nd array)
PREWHERE c                   WHERE c   (merged with AND if WHERE exists)
FROM t FINAL                 ReplacingMergeTree merge-on-read: newest-
                             version row per sorting key via row_number
                             (needs table_keys config; stripped with a
                             note when no config is supplied)
quantiles(p…)(x)             percentile_approx(x, array(p…))
quantilesExact(p…)(x)        percentile(x, array(p…))
quantileTDigest/Determi-     percentile_approx(x, p)   (one sketch impl)
nistic/BFloat16(p)(x)
median(x) / medianExact(x)   percentile_approx(x, 0.5) / percentile(x, 0.5)
sumDistinct(x)               sum(DISTINCT x)
anyIf/anyLastIf/uniqIf       first/last/approx_count_distinct … FILTER
uniqExactIf(x, c)            count(DISTINCT x) FILTER (WHERE c)
varPop/varSamp/stddev*/      var_pop/var_samp/stddev_pop/stddev_samp/
covarPop/covarSamp/corr      covar_pop/covar_samp/corr
groupBitAnd/Or/Xor(x)        bit_and/bit_or/bit_xor(x)
[1, 2, 3]                    array(1, 2, 3)
expr[k]                      element_at(expr, k)  (CH arrays 1-based; map
                             key access — Spark's native a[i] is 0-based)
toStartOfInterval(t, I n u)  epoch floor-division (sub-day n); date_trunc
toStartOfFiveMinutes etc.    epoch floor-division buckets
tumble/tumbleStart/End       epoch-aligned [start, end) tuple / bounds;
                             1-arg form reads the tuple's fields
hop/hopStart/hopEnd          FIRST hopping window covering t: smallest
                             aligned slide-multiple > t - size
IPv6 family ([to/cut/...]    16-byte BINARY values (lexicographic =
IPv6*, IPv6CIDRToRange)      128-bit order); RFC 5952 text w/ CH's
                             ::ffff:a.b.c.d mapped display (Arrow UDFs)
erf/erfc/lgamma/tgamma       libm via Arrow UDFs (same C functions)
base58/base32/punycode       Arrow-UDF tier (functions/chudfs.py):
[try]En/Decode,              deterministic scalars with no JVM expression
normalizeUTF8NF*,            form ride vectorized pandas UDFs (ch_sql
jaro[Winkler]Similarity,     registers them); distances are byte-wise,
damerauLevenshtein/          DL unrestricted (da-table), Jaro strcmp95
arrayLevenshteinDistance     conventions — DuckDB-cross-checked
timeSlot(t)                  1800 s bucket
domain/path/protocol/        parse_url(u, 'HOST'/'PATH'/'PROTOCOL'/
queryString/fragment(u)      'QUERY'/'REF')
extractURLParameter(u, k)    parse_url(u, 'QUERY', k)
isNaN/isFinite/isInfinite    isnan / NOT isnan AND |x|≠inf / |x|=inf
ifNotFinite(x, y)            CASE WHEN nan-or-inf THEN y ELSE x END
arrayUniq(a)                 size(array_distinct(a))
countEqual(a, x)             size(filter(a, e -> e = x))
arrayAvg(a)                  aggregate-sum / size
arrayDifference(a)           transform with element_at deltas (first 0)
arraySlice(a, o, l)          slice(a, o, l)
range(n) / range(a, b)       sequence(0, n-1) / sequence(a, b-1)
toDecimal32/64/128(x, s)     CAST(x AS DECIMAL(9|18|38, s))
base64Encode/Decode(s)       base64 / CAST(unbase64 AS STRING)
match(s, re)                 regexp_like(s, re)
bitShiftLeft/Right(x, n)     shiftleft/shiftright(x, n)
ORDER BY … LIMIT n BY cols   ranked-window subquery (row_number ≤ n),
                             ORDER-BY-before-LIMIT-BY sequencing kept
[LEFT] ARRAY JOIN a AS x     LATERAL VIEW explode[_outer](a) … AS x
GLOBAL JOIN / GLOBAL IN      JOIN / IN  (noted: Spark plans exchanges)
GROUP BY k WITH TOTALS       GROUP BY GROUPING SETS ((k), ())  (noted:
                             totals row keys are NULL, not CH defaults)
SETTINGS k=v, …              stripped (noted: use session confs)
FORMAT Name                  stripped (noted: sink owns serialization)
uniqUpTo(N)(x)               LEAST(count(DISTINCT x), N+1)
LIMIT off, n BY cols         ranked window BETWEEN off+1 AND off+n
countMatches(h, re)          size(regexp_extract_all(h, re, 0))
countSubstrings(h, n)        length-difference division (0 for empty n)
positionCaseInsensitive      locate(lower(n), lower(h)); instr is its
                             CH ALIAS (MySQL convention) — r9 fix
replaceRegexpAll             regexp_replace
reverseUTF8 / concatAssume-  reverse / concat
Injective
arrayPushBack/Front(a, x)    concat(a, array(x)) / concat(array(x), a)
arrayPopBack/Front(a)        slice(a, 1|2, size-1)
toStartOfSecond(t)           date_trunc('SECOND', t)
windowFunnel(W[,mode])(…)    aggregate() chain fold over per-condition
                             (t, idx) entries in CH's condition order
                             (one event can climb several levels);
                             strict_order, strict_deduplication and
                             strict_increase modes, combinable
retention(c1, …, cn)         array of max(c1)/LEAST(max(c1), max(ci))
sequenceMatch('pat')(…)      per-group event string + regex (atoms (?N),
sequenceCount('pat')(…)      .*, and (?t OP N) gap constraints encoded
                             as monotone threshold marker characters)
SAMPLE k / k/n / N           TABLESAMPLE (PERCENT | N ROWS)  (noted:
                             PERCENT membership differs between engines;
                             N ROWS is a deterministic scan prefix, no
                             sampling at all)
uniqCombined[64](x)          approx_count_distinct(x)
ARRAY JOIN a AS x, b AS y    posexplode(a) + element_at(b, pos+1) zip
mapKeys/mapValues/Contains   map_keys / map_values / map_contains_key
monthName/dateName           date_format tokens ('week' part refused)
toStartOfWeek(d[, mode])     Sunday formula (mode 0) / date_trunc WEEK
toISOWeek(d)                 weekofyear(d)
toWeek(d[, 0|3])             mode 0 = MySQL WEEK() Sunday-start exact
                             integer arithmetic; mode 3 = ISO
toRelative*Num(t)            floor(unix_timestamp / unit-seconds)
greatCircleDistance          haversine on CH's sphere radius
domainWithoutWWW(u)          parse_url HOST minus leading www.
extractAll(s, 're')          regexp_extract_all (group index sniffed)
splitByRegexp(re, s)         split(s, re)
arrayCompact/CumSum/Reduce/  filter-with-index / fold-append / named
Resize/Intersect/WithConst   aggregate subset / slice-or-pad / n-ary
                             array_intersect / array_repeat
arrayReduceInRanges('agg',   literal (start, len) pairs → per-range
 [(s, l)…], arr)             slice folds (empty-safe sum/count/avg
                             only; min/max/any refuse — CH's empty
                             default is 0 where Spark yields NULL)
sumArray/minArray/maxArray/  per-row array fold composed with the row
countArray/avgArray          aggregate (try_divide for avg)
groupArray(N)(x)             slice(collect_list(x), 1, N)
string literals              re-escaped: CH keeps the backslash on
                             unknown escapes ('\\d' is backslash-d),
                             Spark drops it — lone backslashes outside
                             the shared escape set are doubled so every
                             regex literal reads identically
bitAnd/Or/Xor/Not/Count/     & | ^ ~ bit_count; bitTest → UInt8 0/1
Test
position(h, n, start)        locate(n, h, start)
avgWeighted(x, w)            try_divide(sum(x·w), sum(w))
argMinIf/argMaxIf(a, b, c)   min_by/max_by(a, b) FILTER (WHERE c)
arrayFirst/Last(f, a)        try_element_at(filter(a, f), 1|-1)
                             (delta: no match → NULL, CH → type default)
arrayFirstIndex(f, a)        coalesce(array_position(transform), 0)
toDate32(x)                  CAST(x AS DATE)
to<T>OrNull/OrZero(x)        TRY_CAST / COALESCE(TRY_CAST, type default)
accurateCastOrNull(x, 'T')   TRY_CAST through the narrow Spark type
                             (string input exact; numeric fractions
                             truncate where CH nulls — documented)
sumMap/minMap/maxMap(k, v)   map_zip_with fold over per-row maps →
                             (sorted keys, values) struct
transform(x, from, to[, d])  map_from_arrays lookup (2-arg form stays
                             Spark's higher-order transform)
caseWithExpression(x, …)     CASE x WHEN … END
groupBitmap(x)               count(DISTINCT x)  (bitmap cardinality)
quantile[s]Timing(p)(x)      percentile_approx (shared sketch, noted)
quantile[s]ExactWeighted     percentile(x, p[, w]) — Spark's exact
  (p)(x, w) / medianExact-   percentile takes a native frequency arg
  Weighted(x, w)
to/fromUnixTimestamp64*      unix_/timestamp_ millis/micros (ns ×1000)
anyHeavy(x)                  first(x)  (heavy-hitter pick ≈ arbitrary)
geoDistance(…)               haversine (ellipsoid delta ~0.3%, doc'd)
age('unit', t1, t2)          timestampdiff(UNIT, t1, t2)
timeDiff(t1, t2)             unix_timestamp delta (seconds)
toModifiedJulianDay(d)       datediff from 1858-11-17
toLastDayOfMonth(d)          last_day(d)
alphaTokens(s)               filter(split(s, '[^A-Za-z]+'), ≠ '')
multiSearchAny(s, [p…])      exists(patterns, p -> contains(s, p))
extractGroups(s, 're')       array(regexp_extract per literal group)
isValidJSON(s)               get_json_object(s, '$') IS NOT NULL
arrayEnumerateDense(a)       first-occurrence dense ranks
arrayRotateLeft(a, n)        pmod-split slice concat (negative n → right)
substringIndex / edit-       substring_index / levenshtein /
Distance / mapFromArrays /   map_from_arrays / uuid() / last_day
generateUUIDv4
toIPv4OrNull / IPv4Num-      canonical-string IP forms (zero-IP default
ToString / IPv4StringToNum   on invalid, parser/fastjson.go:739-785)
toUUIDOrNull(s)              validated lowercase UUID string
simpleJSON*/visitParam*      same machinery as JSONExtract* (flat docs)
JSONExtractKeys(j[, k])      json_object_keys([get_json_object])
toStringCutToZero(s)         substring_index(s, char(0), 1)
roundBankers(x[, n])         bround  (both HALF_EVEN)
toBool[OrNull/OrZero](x)     CAST / TRY_CAST AS BOOLEAN
URLDomain/topLevelDomain/    parse_url compositions (TLD '' on IP hosts
pathFull/cutQueryString/     like CH; cutQueryString keeps #fragment;
cutFragment/cut…AndFragment  '?' inside a fragment is data, not a cut)
de/encodeURLComponent        url_decode / url_encode ('+'→'%20' fixup;
                             residual form-encoding deltas noted)
toInterval{Second…Year}(n)   make_interval slot forms (Quarter = 3 mo)
exp2/exp10 / intExp2/10      power(2|10, x) / shiftleft(1L, x) and
                             exact double→BIGINT power (≤2^62 / 10^18)
parseDateTime[64]BestEffort  TRY_CAST ∪ try_to_timestamp layout chain ∪
  [OrNull/OrZero](s)         9-10-digit epoch; NULL on no-match where
                             base form in CH throws (noted)
format('{} {N}', …)          format_string('%s %N$s', …), {{}} escapes,
                             mixed auto+indexed refused (CH forbids too)
replaceOne(s, a, b)          first-occurrence locate() splice
toYYYYMMDDhhmmss(t)          date_format 'yyyyMMddHHmmss' → BIGINT
wordCount(s)                 size(split(trim(s), '\\s+')), '' → 0
skewPop/kurtPop(x)           skewness / kurtosis + 3 (Spark kurtosis is
                             excess; sample forms refused)
emptyArray<T>()              CAST(array() AS ARRAY<T>)
formatReadableSize/Quantity  nested-CASE '%.2f' + unit tier
tuple(…)/tupleElement(t, i)  named_struct('_1', …) / field access by
                             position (_N names) or literal name
tuplePlus/Minus/Multiply/    element-wise arithmetic when the tuple
 Divide/Negate/Concat,       arity is SQL-text visible — (a, b) /
 tupleMultiplyByNumber/      tuple(…) / emitted named_struct; divide
 DivideByNumber,             emits Float64 like CH; tuple-typed
 tupleHammingDistance        COLUMNS refuse (no text-level arity)
topK(N)(x)                   EXACT heavy-hitters: frequency fold over
                             one collect_list, ties by value asc (CH
                             order unspecified)
mid(s, a, n)                 substring
arrayProduct / arrayFold /   double-product aggregate / aggregate(arr,
arrayReverseSort             init, λ) reorder / reverse(array_sort)
mapAdd/Subtract/Update/      map_zip_with folds (Concat: FIRST map's key
Concat / mapFilter           wins, as CH) / map_filter arg swap
simpleLinearRegression(x,y)  (regr_slope, regr_intercept) tuple (y,x)
boundingRatio(x, y)          Δmax_by/min_by over Δmax/min (group slope)
bitHammingDistance(a, b)     bit_count(a ^ b)
isIPv4String/isIPv6String    validation-regex RLIKE → 0/1
UUIDStringToNum/NumToString  unhex strip-dashes / hyphenated lower hex
snowflakeToDateTime /        id >> 22 ± Twitter epoch 1288834974657 ms
dateTimeToSnowflake
randCanonical/Normal/        random() / m + s·randn() / random() < p
rand()                       floor(random()·2³²) — CH returns UInt32
greatest/least               NULL if ANY argument NULL (CH propagation;
                             Spark's builtins skip nulls)
Bernoulli
toTime(t)                    1970-01-02 + pmod(µs, 86400e6)
timezone()/timeZoneOf/…      current_timezone() (one session TZ)
nowInBlock()                 current_timestamp() (per-query, noted)
identity/materialize/ignore  (x) / (x) / 0
throwIf(c[, msg])            IF(c, raise_error(msg)::INT, 0) — lazy
sumKahan(x)                  sum(x) (Spark sum is uncompensated; noted)
timeSlots(t, dur[, size])    slot-start sequence, end clamped ≥ start
                             (Spark sequence() auto-descends otherwise)
groupConcat[('sep')](x)      array_join(collect_list(x), sep) — order
                             engine-dependent in BOTH engines
<agg>If(args…, cond)         GENERIC -If combinator: base(args) FILTER
                             (WHERE cond) for every translated aggregate
                             (countIf keeps its 1-arg count_if form;
                             2-arg countIf(x, c) → count(x) FILTER);
                             quantile[Exact/Timing]If(p)(x, c) likewise
<agg>OrNull / <agg>OrDefault NULL-on-empty is Spark's native behavior
                             (identity) for value aggregates; counting
                             aggregates get nullif(·, 0); -OrDefault is
                             coalesce(·, 0) for numerics, identity for
                             count/arrays; any/argM*OrDefault refused
                             (result-type default unknowable)
countDistinct(x…)            count(DISTINCT …)
gcd/lcm(a, b)                bounded Euclid aggregate() fold (92 iters =
                             64-bit Fibonacci worst case); zero args
                             raise, as CH
roundToExp2(x)               <1 → 0 else largest 2^k ≤ x, exact via
                             length(bin(x)) — never a float log2
roundDown(x, [b…])           sorted-boundary fold; below lowest → lowest
stringJaccardIndex[UTF8]     char-set Jaccard via array_intersect/union
entropy(x)                   -Σ p·log2 p over SORTED distinct values —
                             deterministic where CH is order-dependent
topKWeighted(N)(x, w)        exact: ranked by per-value weight sums,
                             ties by value asc (like topK)
sumMapFiltered([ks])(k, v)   per-row map_filter before the sumMap fold
sumMapWithOverflow(k, v)     sumMap fold, values wrapped mod 2^bits
sumMapFilteredWithOverflow   both composed (r11): filter before the
 ([ks])(k, v)                width-gated modular fold
                             (width from the to[U]IntN spelling)
mapPopulateSeries(k, v[, m]) sequence(min, max) fill, absent keys → 0;
                             keys widened to BIGINT (noted)
replaceRegexpOne(s, p, r)    first-match regexp_instr/extract splice;
                             literal \\N backrefs expand to group
                             extracts of that same match
skewSamp/kurtSamp(x)         population builtins × ((n-1)/n)^{3/2, 2}
                             (exact sample-moment rescaling)
bitmaskToList(n)             ascending power-of-two decomposition as a
                             joined string; negative input raises
mapApply((k,v)->(a,b), m)    tuple lambda → map_entries transform with
                             word-boundary var substitution
MACNumToString/StringToNum   uppercase hex-pair splice / conv(16); bad
                             format → 0 as CH
IPv4CIDRToRange(ip, cidr)    subnet (low, high) tuple via block-size
                             integer arithmetic (works at /0)
maxIntersections[Position]   sweep-line sort_array fold, ends close
                             before starts open (half-open intervals);
                             Position returned as DOUBLE (noted)
groupArrayInsertAt           positional array build, explicit default
  (def[, size])(x, pos)      required (type default unknowable); dup
                             positions keep MIN (CH keeps 'any')
QUALIFY pred                 hoisted helper column + outer WHERE;
                             * EXCEPT (__q) drops it (same eval order)
untuple(col)                 col.* struct star expansion (plain column
                             refs only)
SELECT * EXCEPT (cols)       passthrough — Spark 4 supports it natively
* APPLY(fn) / COLUMNS('re')  refused loudly (no Spark column matchers)
toRelative{Year,Quarter,     year/quarter/month arithmetic (WeekNum
  Month}Num / today /        refused: DateLUT-internal origin);
  yesterday / now64 /        current_date/timestamp; date_trunc;
  dateTrunc / fromModified-  MJD epoch date_add
  JulianDay
hasSubstr / arrayElement /   slice-compare fold / element_at / last
  arrayLastIndex /           match via index transform / set Jaccard /
  arrayJaccardIndex /        full sort (CH's tail order unspecified)
  arrayPartialSort
bitTestAll/Any(n, b…)        AND/OR chain of shiftright bit probes
*UTF8 string forms (left,    the plain Spark builtins — Spark strings
  right, pads, position,     are code-point native, so UTF8 semantics
  translate, toValidUTF8)    are the default
multiSearchFirstPosition /   locate() transforms: leftmost position /
  FirstIndex / AllPositions  its needle index (ties by order) / all
countSubstringsCaseInsens.   replace-count on lowered strings
splitByWhitespace            filter(split '\\s+') drops empties
tryBase64Decode              alphabet+padding validation, '' on bad
regexpExtract / regexp-      smart group default like extract() /
  QuoteMeta                  metachar-class escape
mapContainsKeyLike /         exists / map_filter over LIKE
  mapExtractKeyLike
-Stable aggregate suffixes   renames (Spark's single-pass moments ARE
                             the stable algorithm)
greatCircleAngle             haversine central angle in degrees
roundAge / roundDuration     CH's fixed bucket ladders
truncate(x[, n])             toward-zero floor/ceil at scale n
dotProduct / L{1,2,inf}Norm  zip_with/aggregate folds, array order
  / *Distance / L2Squared-   deterministic; cosineDistance via
  Distance / normalizeL1/L2  try_divide (NULL on zero norm)
currentDatabase/currentUser  current_database() / current_user()
toISOYear/toStartOfISOYear   Thursday-rule arithmetic (Spark forbids
                             the 'Y' week-year format pattern)
to/fromDaysSinceYearZero     datediff ± 719528 (1970-01-01 pin)
toLastDayOfWeek              toStartOfWeek + 6 (same mode handling)
makeDate[32]/makeDateTime    make_date / make_timestamp
  [64]
YYYYMMDD[hhmmss]To…          try_to_date/timestamp (NULL on invalid)
timestampSub                 timestampadd with negated count
sumCount(x)                  (sum, count) named-struct tuple
quantile[s]GK(acc, p…)(x)    percentile_approx — Spark's sketch IS
                             Greenwald-Khanna
arrayShingles / arrayFill /  window slices / nearest-preceding-true
  arrayReverseFill /         fold / per-element occurrence counter /
  arrayEnumerateUniq /       zero-clamped running sum
  arrayCumSumNonNegative
isIPAddressInRange(ip, c)    IPv4 prefix equality via block DIV (IPv6
                             raises lazily at runtime)
bitmaskToArray /             power/position decompositions, negative
  bitPositionsToArray        input raises
toDecimal32/64/128(x, s)     CAST to DECIMAL(9|18|38, s)
widthBucket / editDistance-  width_bucket / levenshtein renames;
  UTF8 / initcapUTF8 /       pmod; exists/forall over map_entries
  positiveModulo /           with mapApply's var substitution
  mapExists / mapAll
isZeroOrNull(x)              (x = 0 OR x IS NULL)
toUUID[OrZero] / toIPv4      validated forms: throw like CH / zero
  [OrZero]                   fallback ('0000…' / '0.0.0.0')
UUIDv7ToDateTime /           first 48 bits as unix ms / Crockford
  ULIDStringToDateTime       base32 remapped onto conv(…, 32, 10)
IPv4NumToStringClassC        3 octets + '.xxx'
firstLine(s)                 split at the first \\r\\n|\\r|\\n
hasToken[CaseInsensitive]    whole-token RLIKE with runtime needle
  [OrNull]                   quoting; multi-token needle raises (CH)
stringCompare(s1, s2)        -1/0/1 — UTF8_BINARY order = byte order
formatReadableDecimalSize    the 1000-based tier of the same
                             integer-cents formatter
firstValue/lastValue/lag-    first_value/last_value/lag/lead renames
  InFrame/leadInFrame
singleValueOrNull(x)         IF(count(DISTINCT x) = 1, max(x), NULL)
intervalLengthSum(a, b)      union measure via sweep-line fold
timezoneOffset(t)            unix delta through to_utc_timestamp
toStartOfMicro/Milli/Nano-   µs identity / DIV-1000 floor / µs
  second / toMillisecond     identity (noted) / ms component
snowflakeToDateTime64 /      the ms-precision snowflake pair
  dateTime64ToSnowflake
parseDateTime[OrNull/        MySQL %-token parsing via the shared
  OrZero](s[, fmt])          formatDateTime converter; base form
                             throws on mismatch (ANSI), as CH
parse/formatDateTimeIn-      pattern passthrough (Joda = java.time on
  JodaSyntax[OrNull/OrZero]  the common letters)
addDate/subDate /            interval-or-days forms; dateSub 3-arg →
  dateAdd/dateSub            negated timestampadd (no Spark datesub)
splitByNonAlpha              alphanumeric-run tokenizer
tokens(s)                    = splitByNonAlpha (CH default tokenizer;
                             2-arg tokenizer modes refuse — r9)
ngrams(s, n)                 codepoint n-grams, [] when shorter (r9)
characterLength / starts/    char_length / startswith / endswith
 endsWithUTF8
max2/min2(a, b)              Float64 greatest/least, any-NULL → NULL
notLike/notILike             NOT (LIKE) forms
toJSONString / JSONArray-    to_json (complex types) / json_array_length
 Length
normalizeLinf / LpNorm       vector-norm tail (let-bound max / p-power)
netloc/port/queryString-     URL tail via try_parse_url AUTHORITY
 AndFragment/cutWWW          ('page=1#29' docs pin; port default 0)
pointInEllipses(x, y, …)     OR of ellipse memberships, UInt8-as-INT
bitmap* family               deterministic array-set algebra (Build/
                             ToArray sorted/Cardinality/And/Or/Xor/
                             Andnot[+Cardinality]/Contains/HasAll/
                             HasAny/Min/Max incl. empty sentinels;
                             groupBitmap* STATE aggs stay refused)
extractAllGroups[Horizontal  static-group-count regex extraction over
 /Vertical](s, 're')         literal patterns
byteHammingDistance /        differing bytes + length delta
 mismatches                  ('karolin'/'kathrin' = 3 pinned)
arrayShiftLeft/Right         explicit-fill 3-arg form (2-arg pads with
 (a, n, fill)                the invisible type default → refuses)
toDecimalN OrNull/OrZero     try_cast tails (Decimal256 refuses)
tupleIntDiv/tupleModulo      element-wise DIV / % (arity-visible gate)
fromUnixTimestampInJoda-     date_format(timestamp_seconds)
 Syntax(x, 'fmt')
parseTimeDelta(s)            number-unit grammar, both docs examples
                             pinned (same 365/30.5 constants)
decodeHTMLComponent(s)       WHATWG entity table (html.unescape — the
                             same HTML5 table CH vendors)
decode/encodeXMLComponent    predefined entities + numeric refs /
                             5-entity replace chain, & first
RIPEMD160(s)                 OpenSSL digest, published 'abc' vector
                             (MD4 refuses: dropped from OpenSSL 3)
extractKeyValuePairs(s)      default grammar via split/filter/
                             map_from_entries (docs example pinned;
                             custom delimiters/quoting refuse)
arrayRotateRight(a, n)       = arrayRotateLeft(a, -n)
LpDistance(v1, v2, p) /      p-power fold / normalize-family alias
 L1/L2/LinfNormalize         spellings
JSONExtract(j, p…, 'T')      generic typed dispatch onto the
                             JSONExtract<T> machinery (scalar T only)
change<Part>(d, v)           make_timestamp recomposition, micros kept;
                             Feb-29/day-overflow saturates like CH
snowflakeIDToDateTime[64] /  NEW epoch-0 snowflake pair — exact 2^22
 dateTime[64]ToSnowflakeID   div/mul on the DECIMAL(20,0) carrier
divideOrNull(a, b)           NULL on a zero divisor, Float64 otherwise
isValidUTF8(s)               ≡ 1 (invalid bytes cannot exist in a
                             Spark string — documented)
sigmoid / toDate32OrNull/    logistic / try_cast (OrZero → 1900-01-01,
 OrZero                      the Date32 range minimum)
arrayUnion / arraySym-       N-ary folds of array_union / union minus
 metricDifference            intersection
instr(h, n)                  = positionCaseInsensitive (its CH alias —
                             the bare Spark passthrough was case-
                             SENSITIVE, r9 fix)
anyRespectNulls family       first/last (Spark's default respects)
groupArray[Uniq]Array(a)     flatten(collect_list) [+ distinct]
quantile[s]DD(acc, p)(x)     shared approx sketch (accuracy dropped)
to/fromUTCTimestamp          Spark builtins, same signature
add/subtractMilli/Micro-     exact unix_micros arithmetic (ns refuses)
 seconds
change<Part>(d, v)           (documented above)
hasSubsequence family        greedy in-order walk (docs example)
accurateCast(x, 'T')         ANSI CAST (throws like CH)
corr/covarSamp/covarPop-     n×n static pairwise-aggregate expansion
 Matrix(x…)
groupArrayIntersect(a)       collect_list ∩-fold
bitPositionsToArray(x)       set-bit positions, LSB-first
IPv4StringToNumOr-           NULL on invalid / the zero-default base
 Null/Default
base64URL[En/De]code /       URL-safe alphabet, CH's stripped padding
 tryBase64URLDecode          (docs example pinned)
equals/notEquals/less/…      comparison FUNCTION forms → operators
avgDistinct / min/max-       DISTINCT aggregate forms
 Distinct
arrayElement/First/Last-     try_element_at aliases (the base already
 OrNull                      NULLs on a miss)
arrayPartialReverseSort      full reverse-sort instance (same
 (n, a)                      convention as arrayPartialSort)
toUUIDOrDefault(s, d)        validated form with explicit fallback
bitmapSubsetInRange/Limit,   filter / sorted-slice / positional
 subBitmap, bitmapTransform  replace over the distinct-array bitmaps
numbers[_mt](n | off, n)     range() table function, column renamed
expr::ChType                 CH type name mapped onto Spark's native
                             :: operator (literal-aware)
quantileExactLow/High(0.5)   python median_low/high element selection
  medianExactLow/High        (non-median levels refused)
… WITH FILL INTERPOLATE      carry-forward window over the spine join:
  (bare cols)                fillers take the previous OUTPUT row's
                             value (a real NULL carries as NULL)
-State/-Merge combinators /  refused loudly (engine-internal states /
reinterpret* / dictGet /     no dictionaries / nondeterministic /
arrayShuffle /               cosmetic output /
histogram / bar / format-    no Spark builtin: erf lgamma
ReadableTimeDelta /          tgamma punycode* normalizeUTF8* Farm/Java/
deltaSum* /                  Hive hashes / order-dependent aggregates /
runningConcurrency /         public-suffix list (firstSignificant-
sumWithOverflow              Subdomain)
ANY LEFT/INNER JOIN t        plain join against the keyed survivor
  USING (k…)                 subquery (row_number()=1, tie-break by the
                             table's remaining orderable columns —
                             needs table_columns catalog context)
lt RIGHT ANY JOIN rt         the mirror: survivor subquery on the LEFT
  USING (k…)                 table, then a plain RIGHT JOIN
a ASOF [LEFT] JOIN b         nearest-past match (>= incl. equality):
  USING (k…, t)              union + ignore-nulls last() carry + keyed
                             join-back against the (k, t)-deduped b —
                             needs table_columns, no aliases
ORDER BY x WITH FILL         sequence spine ∪ actual values + left join
  [FROM a] [TO b] [STEP s]   (TO exclusive; filler rows NULL where CH
                             shows type defaults — noted)
ANY JOIN … ON / FULL ANY /   refused with a rewrite hint (dedup-first /
ASOF … ON / WITH FILL        operators/asof.py / ts_gap_fill plan) —
  INTERPOLATE / multi-col    never mistranslated
===========================  =========================================

Functions that change value semantics under translation (``uniq`` is a
different approximation algorithm; ``any`` is an arbitrary-row pick in
both engines) are flagged in the returned notes.  Anything outside the
table raises ``ChTranslationError`` with the offending name rather than
silently producing wrong results.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Mapping
from contextvars import ContextVar
from types import MappingProxyType
from typing import NamedTuple

from .chudfs import CH_UDF_NAMES

__all__ = ["translate_ch_sql", "ChTranslationError", "ch_sql"]


class ChTranslationError(ValueError):
    """A ClickHouse construct with no faithful Spark translation."""


# simple name-for-name renames (textual, applied at call sites ``name(``)
_RENAMES = {
    # Arrow-UDF-backed scalars (functions/chudfs.py) — deterministic CH
    # functions with no JVM expression form; try* variants FIRST so the
    # longer names never see a partial rename
    "IPv6StringToNumOrNull": "ch_ipv6_ston_or_null",
    "IPv6StringToNumOrZero": "ch_ipv6_ston_or_zero",
    "IPv6StringToNum": "ch_ipv6_ston",
    "toIPv6OrNull": "ch_ipv6_ston_or_null",
    "toIPv6OrZero": "ch_ipv6_ston_or_zero",
    "toIPv6": "ch_ipv6_ston",
    "IPv6NumToString": "ch_ipv6_ntos",
    "IPv4ToIPv6": "ch_ipv4_to_ipv6",
    "cutIPv6": "ch_cut_ipv6",
    "IPv6CIDRToRange": "ch_ipv6_cidr_range",
    "erf": "ch_erf",
    "erfc": "ch_erfc",
    "lgamma": "ch_lgamma",
    "tgamma": "ch_tgamma",
    "tryPunycodeDecode": "ch_try_punycode_decode",
    "tryBase58Decode": "ch_try_base58_decode",
    "tryBase32Decode": "ch_try_base32_decode",
    "punycodeEncode": "ch_punycode_encode",
    "punycodeDecode": "ch_punycode_decode",
    "base58Encode": "ch_base58_encode",
    "base58Decode": "ch_base58_decode",
    "base32Encode": "ch_base32_encode",
    "base32Decode": "ch_base32_decode",
    "normalizeUTF8NFC": "ch_nfc",
    "normalizeUTF8NFD": "ch_nfd",
    "normalizeUTF8NFKC": "ch_nfkc",
    "normalizeUTF8NFKD": "ch_nfkd",
    "idnaEncode": "ch_idna_encode",
    "tryIdnaEncode": "ch_try_idna_encode",
    "idnaDecode": "ch_idna_decode",
    "jaroSimilarity": "ch_jaro",
    "jaroWinklerSimilarity": "ch_jaro_winkler",
    "damerauLevenshteinDistance": "ch_damerau_levenshtein",
    "arrayLevenshteinDistance": "ch_array_levenshtein",
    "toDate": "to_date",
    "toDateTime": "to_timestamp",
    "uniq": "approx_count_distinct",
    "arrayJoin": "explode",
    "has": "array_contains",
    "ifNull": "coalesce",
    "arrayDistinct": "array_distinct",
    "arraySort": "array_sort",
    "arrayReverse": "reverse",
    "arrayConcat": "concat",
    "arrayFlatten": "flatten",
    "arrayMin": "array_min",
    "arrayMax": "array_max",
    "arrayZip": "arrays_zip",
    "groupArray": "collect_list",
    "groupUniqArray": "collect_set",
    "argMax": "max_by",
    "argMin": "min_by",
    "any": "first",
    "anyLast": "last",
    # date/time part extraction (CH to* family → Spark part functions)
    "toHour": "hour",
    "toMinute": "minute",
    "toSecond": "second",
    "toYear": "year",
    "toMonth": "month",
    "toQuarter": "quarter",
    "toDayOfMonth": "day",
    "toUnixTimestamp": "unix_timestamp",
    "toISOWeek": "weekofyear",
    "fromUnixTimestamp": "timestamp_seconds",
    "toUnixTimestamp64Milli": "unix_millis",
    "toUnixTimestamp64Micro": "unix_micros",
    "fromUnixTimestamp64Milli": "timestamp_millis",
    "fromUnixTimestamp64Micro": "timestamp_micros",
    "anyHeavy": "first",
    # string functions
    "startsWith": "startswith",
    "endsWith": "endswith",
    "leftPad": "lpad",
    "rightPad": "rpad",
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    "trimBoth": "trim",
    "replaceAll": "replace",
    "lengthUTF8": "length",
    "lowerUTF8": "lower",
    "upperUTF8": "upper",
    "substringUTF8": "substring",
    "concatWithSeparator": "concat_ws",
    "match": "regexp_like",
    "base64Encode": "base64",
    # statistics aggregates (identical math, snake_case names in Spark)
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    "uniqHLL12": "approx_count_distinct",
    "uniqCombined64": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqTheta": "approx_count_distinct",
    # arrays / bits
    "arraySlice": "slice",
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "reverseUTF8": "reverse",
    "concatAssumeInjective": "concat",
    "replaceRegexpAll": "regexp_replace",
    "toDayOfYear": "dayofyear",
    "substringIndex": "substring_index",
    "roundBankers": "bround",   # both are HALF_EVEN
    "editDistance": "levenshtein",
    "levenshteinDistance": "levenshtein",
    "mapFromArrays": "map_from_arrays",
    "generateUUIDv4": "uuid",
    "toLastDayOfMonth": "last_day",
}

# toStartOf<fixed bucket> shorthands → bucket length in seconds
_FIXED_BUCKETS = {
    "toStartOfFiveMinute": 300,
    "toStartOfFiveMinutes": 300,
    "toStartOfTenMinutes": 600,
    "toStartOfFifteenMinutes": 900,
    "timeSlot": 1800,
}

_INTERVAL_SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}

# addUnit(x, n) / subtractUnit(x, n) → timestampadd(UNIT, ±n, x)
_ADD_UNITS = {
    "addSeconds": "SECOND",
    "addMinutes": "MINUTE",
    "addHours": "HOUR",
    "addDays": "DAY",
    "addWeeks": "WEEK",
    "addMonths": "MONTH",
    "addYears": "YEAR",
}
_SUB_UNITS = {
    "subtractSeconds": "SECOND",
    "subtractMinutes": "MINUTE",
    "subtractHours": "HOUR",
    "subtractDays": "DAY",
    "subtractWeeks": "WEEK",
    "subtractMonths": "MONTH",
    "subtractYears": "YEAR",
}

# formatDateTime %-tokens → Spark date_format pattern letters (the common
# MySQL-style subset ClickHouse documents; unknown tokens raise)
_FMT_TOKENS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%M": "mm", "%i": "mm", "%S": "ss", "%s": "ss", "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss", "%e": "d", "%j": "DDD", "%V": "ww", "%%": "%",
    "%I": "hh", "%h": "hh", "%p": "a", "%a": "EEE", "%b": "MMM",
    "%c": "M",
}

_TRUNCS = {
    "toStartOfSecond": "SECOND",
    "toStartOfMinute": "MINUTE",
    "toStartOfHour": "HOUR",
    "toStartOfDay": "DAY",
    "toStartOfMonth": "MONTH",
    "toStartOfQuarter": "QUARTER",
    "toStartOfYear": "YEAR",
    "toMonday": "WEEK",
}

_CASTS = {
    "toUInt8": "BIGINT",
    "toUInt16": "BIGINT",
    "toUInt32": "BIGINT",
    "toUInt64": "DECIMAL(20,0)",
    "toInt8": "BIGINT",
    "toInt16": "BIGINT",
    "toInt32": "BIGINT",
    "toInt64": "BIGINT",
    "toFloat32": "DOUBLE",
    "toFloat64": "DOUBLE",
    "toBool": "BOOLEAN",
    "toString": "STRING",
}


# aggregate-with-condition combinators → FILTER (WHERE ...) clause
_AGG_IF = {
    "sumIf": "sum",
    "avgIf": "avg",
    "minIf": "min",
    "maxIf": "max",
    "anyIf": "first",
    "anyLastIf": "last",
    "uniqIf": "approx_count_distinct",
}

# known-ClickHouse names we refuse rather than mistranslate
_UNSUPPORTED = {
    "farmHash64",     # farmhash Hash64 dispatches per-CPU at BUILD time —
                      # not portable even between CH builds; use the
                      # portable farmFingerprint64 (translated, Guava-proven)
    "neighbor",
    "runningDifference",
    "runningDifferenceStartingWithFirstValue",
    "runningAccumulate",
    "rowNumberInBlock",
    "rowNumberInAllBlocks",
    "sample",
    "histogram",
    "quantileInterpolatedWeighted",  # CH's weighted-interpolation node
                                     # positions have no local pin
    "quantilesInterpolatedWeighted",
    "sparkBar",
    "sparkbar",
    "bar",
    "dictGet",
    "dictGetOrDefault",
    "dictGetOrNull",
    "dictHas",
    "arrayShuffle",   # nondeterministic by definition
    "toTypeName",     # engine introspection
    "wordShingleSimHash",
    "multiFuzzyMatchAny",
    "normalizeQuery",        # CH query-text fingerprinting — engine-internal
    "normalizeQueryKeepNames",
    "runningConcurrency",    # block-order-dependent, like runningDifference
    "deltaSum",              # order-dependent aggregate: use window lag()
    "sleep",                 # deliberate no-op denial: no sleeping in plans
    "sleepEachRow",
    "hostName",              # engine introspection
    "version",               # would silently return SPARK's version string
    "uptime",
    "blockSize",
    "byteSize",
    "stochasticLinearRegression",   # iterative trainers, not aggregates
    "stochasticLogisticRegression",
    "groupArrayMovingAvg",   # block-order-dependent, like deltaSum
    "groupArrayMovingSum",
    "h3ToGeo",
    "geoToH3",
    "regionToName",
    "regionToCountry",
    "svg",
    "polygonsIntersectionCartesian",  # boost polygon clipping — an
                                      # algorithmic geometry kernel, not
                                      # a formula; out of scope
    # polygonConvexHullCartesian translates as of r11 (literal fold —
    # boost graham_andrew output convention, see _convex_hull_fold)
    "wkt",                            # the RENDER direction stays
                                      # refused — STRENGTHENED r12 per
                                      # the VERDICT order: shortest-
                                      # round-trip fixes the DIGITS but
                                      # not the NOTATION, and the
                                      # notation diverges INSIDE the
                                      # exponent-free coordinate range.
                                      # Concrete mismatch: the double
                                      # 1.0 renders "1.0" (Python/Spark
                                      # repr), "1" (double-conversion
                                      # EcmaScriptConverter, CH's
                                      # pre-23 float writer), "1E0"
                                      # (dragonbox to_chars, vendored
                                      # by newer CH) — all round-trip,
                                      # all shortest, all different;
                                      # integer-valued coordinates are
                                      # the COMMON case in geometry.
                                      # Threshold families differ too:
                                      # 1e16 is "1e+16" (Python) vs
                                      # "10000000000000000" (ECMA
                                      # decimal range ends at 1e21).
                                      # Which notation CH's wkt() emits
                                      # is a version-contingent
                                      # implementation detail no local
                                      # pin can resolve (no server, no
                                      # docs vector with a fractional +
                                      # an integer-valued coordinate).
                                      # Evidence test:
                                      # tests/test_chdialect.py::
                                      # test_wkt_render_refusal_notation_evidence
                                      # (the readWKT* PARSERS
                                      # translate: nested tuple arrays
                                      # carry the geometry)
    "initialQueryStartTime",          # engine introspection
    "dictGetUInt64",                  # no external dictionaries
    "JSONAllPaths",          # CH JSON-type internals introspection
    "JSONDynamicPaths",
    "JSONSharedDataPaths",
    "isDecimalOverflow",     # engine type introspection
    "isConstant",
    "connectionId",
    "currentProfiles",
    "enabledProfiles",
    "defaultProfiles",
    "currentRoles",
    "enabledRoles",
    "defaultRoles",
    "revision",
    "shardNum",              # cluster topology introspection — Spark
    "shardCount",            # partitions are not CH shards
    "partitionID",
    "globalVariable",
    "zookeeperSessionUptime",
    "transactionLatestSnapshot",
    "formatQuery",           # CH SQL pretty-printer (server parser)
    "formatQuerySingleLine",
    "structureToProtobufSchema",
    "structureToCapnProtoSchema",
    "detectLanguage",        # model-backed NLP: the repo's text_langid
    "detectCharset",         # operator is the supported path
    "lemmatize",             # needs preloaded lemmatizer dictionaries
    "synonyms",              # (CH throws without them server-side too);
                             # stem() translates — same libstemmer CH links
    "generateULID",          # nondeterministic generators
    "cityHash128",           # r11 re-check per VERDICT order #3: the
                             # assumed proof chain does NOT exist here —
                             # nm -D libabsl_city.so.20220623 exports
                             # ONLY CityHash32/64/WithSeed(s); the
                             # 128-bit composition (CityMurmur + the
                             # 1.0.2 tail loop) has NO independent local
                             # verifier, and the repo's bar for hash
                             # translations is a bit-proof, not a
                             # from-memory transcription.  Refused
                             # until a verifier (chdb, network, or a
                             # lib exporting CityHash128) appears.
    "randomString",          # nondeterministic
    "randomPrintableASCII",
    "randomFixedString",
    "fuzzBits",
    "kostikConsistentHash",  # r11 re-check per VERDICT order #6: unlike
                             # jumpConsistentHash (a 5-line PUBLISHED
                             # paper formula, Lamping & Veach 2014,
                             # reproduced from the paper in r8), Oblakov's
                             # algorithm exists only as CH contrib code
                             # (contrib/consistent-hashing) with no paper
                             # and no published test vectors; the single
                             # CH docs example (one input) cannot pin the
                             # popcount-branch structure of a from-memory
                             # transcription.  Refused until the source
                             # or a verifier is locally available.
    # sumMapFilteredWithOverflow translates as of r11 (the filtered
    # per-row map composed into the width-gated modular fold)
    "groupBitmapAnd",        # bitmap-state aggregates
    "groupBitmapOr",
    "groupBitmapXor",
    "varianceMatrix",
    "covarianceMatrix",
    "displayName",           # engine introspection
    "getTypeSerializationStreams",
    "hasColumnInTable",
    "transactionID",
    "indexHint",             # granule-selection no-op: result superset
    "joinGet",               # Join-engine tables: use a broadcast JOIN
    "joinGetOrNull",
    "addTupleOfIntervals",   # tuple interval packs
    "subtractTupleOfIntervals",
    "groupArrayLast",        # insertion-order-dependent aggregates
    "groupArraySample",      # nondeterministic sampling
    "arrayRandomSample",     # nondeterministic
    "lowCardinalityKeys",    # engine introspection
    "lowCardinalityIndices",
    "toIntervalNanosecond",  # Spark intervals are microsecond-resolution
    "addNanoseconds",        # (same microsecond-resolution ceiling)
    "subtractNanoseconds",
    "toStartOfNanosecond",
    "toTimezone",            # CH changes the TYPE's display timezone, not
                             # the instant; Spark timestamps carry no tz —
                             # render with date_format(from_utc_timestamp)
    "sequenceNextNode",      # block-order event-chain introspection
    "windowID",              # streaming-engine window introspection
    "toDecimal256",          # beyond Spark's DECIMAL(38) ceiling
    "toDecimal256OrNull",
    "toDecimal256OrZero",
    "toInt128",              # Int128/256 and UInt128/256 exceed the
    "toInt128OrNull",        # DECIMAL(38) carrier's domain
    "toInt128OrZero",
    "toInt256",
    "toInt256OrNull",
    "toInt256OrZero",
    "toUInt128",
    "toUInt128OrNull",
    "toUInt128OrZero",
    "toUInt256",
    "toUInt256OrNull",
    "toUInt256OrZero",
    "toColumnTypeName",      # engine introspection
    "aggThrow",              # CH test-only aggregate
    "formatRow",             # the CH output-format zoo — use concat_ws
    "formatRowNoNewline",    # or to_json for the common shapes
    "sqidEncode",            # Sqids: no local verifier for the
    "sqidDecode",            # shuffled-alphabet algorithm
    "firstSignificantSubdomainCustom",      # needs a custom TLD list
    "cutToFirstSignificantSubdomainCustom", # loaded server-side in CH
    "hammingDistance",       # ambiguous alias: use byteHammingDistance
                             # (strings) or bitHammingDistance (ints)
    "flattenTuple",          # tuple introspection
    "tupleToNameValuePairs",
    "tupleNames",
    "mapPartialSort",        # the limit-N partial-sort forms stay refused
    "mapPartialReverseSort", # (CH leaves the tail order unspecified)
    "nothing",               # engine internals
    "zeroField",
    "defaultValueOfArgumentType",
    "defaultValueOfTypeName",
    "toRelativeWeekNum",     # CH's epoch-week numbering origin is
                             # DateLUT-internal; use toStartOfWeek buckets
    "ngramSimHash",          # CH-specific text-hash families
    "wordShingleMinHash",
    "ngramMinHash",
    "dictGetString",         # no external dictionaries in Spark
    "dictGetFloat64",
    "dictGetInt64",
    "dictIsIn",
    "generateUUIDv7",        # time-ordered UUIDs: uuid() loses the
                             # sortability that IS the point of v7
    "serverUUID",            # engine introspection
    "initialQueryID",
    "queryID",
    "buildId",
    "tcpPort",
    "httpPort",
    "getMacro",
    "getSetting",
    "filesystemAvailable",
    "filesystemCapacity",
    "file",                  # external-source TABLE functions: register
    "url",                   # the data as a Spark table / spark.read
    "s3",                    # instead — the engine's own connectors own
    "hdfs",                  # these paths
    "mysql",
    "postgresql",
    "jdbc",
    "odbc",
    "mongodb",
    "input",
    "viewIfPermitted",       # permission introspection
    "fullHostName",          # host/engine introspection tail
    "getOSKernelVersion",
    "availableRoles",
    "getClientHTTPHeader",
    "showCertificate",
    "tid",
    "logTrace",
    "currentQueryID",
    "hasThreadFuzzer",
    "filesystemUnreserved",
    "blockNumber",
    "blockSerializedSize",
    "addressToLine",         # debug-symbol introspection
    "addressToLineWithInlines",
    "addressToSymbol",
    "demangle",
    "trap",
    "catboostEvaluate",      # model-backed evaluation (no models here)
    "evalMLMethod",
    "naturalLanguageProcessing",
    "dictGetChildren",       # hierarchical dictionary getters
    "dictGetDescendants",
    "dictGetHierarchy",
    "dictIsInHierarchy",
    "finalizeAggregation",   # aggregate-state plumbing (the -State/
    "initializeAggregation", # -Merge refusal family)
    "remote",                # remote/cluster table functions reach into
    "remoteSecure",          # other ClickHouse servers — register the
    "cluster",               # data as a Spark table instead
    "clusterAllReplicas",
    "generateRandom",        # nondeterministic row generator (the
                             # repo's sources/testgen.py is the
                             # deterministic equivalent)
    "zeros",
    "zeros_mt",
}

# `expr::ChType` cast-operator type names → Spark type names (built
# from the same table as the to<Type>() casts, plus the date/bool names)
_COLON_CAST_RE = re.compile(r"::\s*([A-Za-z][A-Za-z0-9]*)")
_COLON_TYPES: dict = {}  # populated after _CASTS below


def _init_colon_types() -> None:
    for chname, sp in _CASTS.items():
        if chname.startswith("to"):
            _COLON_TYPES[chname[2:]] = sp
    _COLON_TYPES.update({
        "Date": "DATE", "Date32": "DATE", "DateTime": "TIMESTAMP",
        "DateTime64": "TIMESTAMP", "Bool": "BOOLEAN",
    })


_init_colon_types()

# a call site ``name(`` (``\b`` and ``\w`` exactly as ``_find_call``
# matches a name), or the ``::`` cast operator
_CALL_SITE_RE = re.compile(r"\b(\w+)\s*\(|::")


def _call_names(sql: str) -> dict[str, None]:
    """The names called in ``sql`` outside single-quoted literals (same
    literal rule as ``_find_call``), plus ``"::"`` when the cast operator
    appears, keyed in order of first occurrence.  A name is in the result
    exactly when ``_find_call(sql, name) >= 0``."""
    names: dict[str, None] = {}
    quotes = last = 0
    for m in _CALL_SITE_RE.finditer(sql):
        quotes += sql.count("'", last, m.start())
        last = m.start()
        if not quotes % 2:
            names.setdefault(m.group(1) or "::", None)
    return names


def _in_string(sql: str, idx: int) -> bool:
    """Whether position ``idx`` falls inside a single-quoted SQL literal
    (a doubled '' reads as close+reopen — same net state, so the simple
    toggle is correct for containment checks)."""
    in_str = False
    for i in range(idx):
        if sql[i] == "'":
            in_str = not in_str
    return in_str


# compiled call-site patterns per function name: the names come from the
# fixed rule table (~650 of them, past re's 512-entry LRU), so the dict
# stays small and never invalidates
_CALL_RE_CACHE: dict[str, "re.Pattern[str]"] = {}


def _find_call(sql: str, name: str, start: int = 0) -> int:
    """Index of the next ``name(`` call site (word-boundary match) at or
    after ``start`` that is OUTSIDE string literals, or -1.  Matching
    inside a literal would corrupt data values — e.g. a row containing
    the text ``any(`` must never be rewritten."""
    pats = _CALL_RE_CACHE.get(name)
    if pats is None:
        pats = (
            re.compile(rf"\b{re.escape(name)}\s*\("),
            # anchored form without the leading \b: replicates how the
            # historical ``sql[start:]`` slice scan saw string-start as a
            # word boundary at the ``start`` position itself
            re.compile(rf"{re.escape(name)}\s*\("),
        )
        _CALL_RE_CACHE[name] = pats
    pat, pat_at_start = pats
    if start and pat_at_start.match(sql, start) and not _in_string(sql, start):
        return start
    for m in pat.finditer(sql, start):
        if not _in_string(sql, m.start()):
            return m.start()
    return -1


def _balanced(sql: str, open_idx: int) -> int:
    """Index just past the ``)`` matching the ``(`` at open_idx (respects
    nesting and single-quoted strings)."""
    depth = 0
    i = open_idx
    in_str = False
    while i < len(sql):
        c = sql[i]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ChTranslationError(f"unbalanced parentheses after index {open_idx}")


def _split_args(arglist: str) -> list[str]:
    """Split a call's argument list on top-level commas."""
    out, depth, in_str, cur = [], 0, False, []
    for c in arglist:
        if in_str:
            cur.append(c)
            if c == "'":
                in_str = False
        elif c == "'":
            cur.append(c)
            in_str = True
        elif c in "([":  # CH array literals [..] nest like parens
            depth += 1
            cur.append(c)
        elif c in ")]":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _rewrite_calls(sql: str, name: str, emit, raw: bool = False) -> str:
    """Rewrite every ``name(args)`` call via ``emit(args: list[str]) -> str``,
    innermost-safe (args are recursively translated before emission).  An
    emitter may RECONSTRUCT the call unchanged (``name(...)``) to decline a
    form it doesn't own — e.g. ANSI ``EXTRACT(unit FROM x)`` vs ClickHouse
    ``extract(s, 're')``; the scan then advances past it instead of looping.

    ``raw``: hand ``emit`` the RAW (untranslated) argument text and leave
    whatever it returns for the later rules to translate — for emitters
    that classify by the original CH spelling (the byte-hash width gate
    must tell ``toUInt32(x)`` from ``toInt64(x)``, which the cast rule
    collapses to the same ``CAST(x AS BIGINT)``).

    A ``str`` emit renames the call (``name(`` → ``emit(``), arguments
    untouched."""
    pos = 0
    while True:
        at = _find_call(sql, name, pos)
        if at < 0:
            return sql
        open_idx = sql.index("(", at)
        if isinstance(emit, str):
            sql = sql[:at] + emit + sql[open_idx:]
            pos = at + len(emit)
            continue
        end = _balanced(sql, open_idx)
        args = _split_args(sql[open_idx + 1 : end - 1])
        if not raw:
            args = [_translate_functions(a) for a in args]
        rep = emit(args)
        sql = sql[:at] + rep + sql[end:]
        # advance past the replacement whenever it still CONTAINS a
        # name( call site — a decline (reconstructed call at position 0)
        # must be skipped, and an emitter that embeds the scanned name
        # mid-replacement would otherwise re-match its own output
        # forever (the greatest→IF(...greatest(...)) loop class)
        pos = at + len(rep) if _find_call(rep, name) >= 0 else at


def _rewrite_quantile(
    sql: str,
    name: str,
    spark_fn: str,
    wrap_array: bool = False,
    weighted: bool = False,
    agg_if: bool = False,
) -> str:
    """``quantile(p)(x)`` two-group combinator → ``spark_fn(x, p)``; with
    ``wrap_array`` the plural ``quantiles(p1, p2, …)(x)`` form becomes
    ``spark_fn(x, array(p1, p2, …))`` (one sketch, many cut points); with
    ``weighted`` the ``(p)(x, w)`` form becomes ``spark_fn(x, p, w)``
    (Spark's exact percentile takes a native frequency argument); with
    ``agg_if`` the ``(p)(x, cond)`` -If combinator form becomes
    ``spark_fn(x, p) FILTER (WHERE cond)``."""
    while True:
        at = _find_call(sql, name)
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if not rest.startswith("("):
            raise ChTranslationError(f"{name} requires the (p)(x) combinator form")
        open2 = end1 + (len(sql[end1:]) - len(rest))
        end2 = _balanced(sql, open2)
        p = _translate_functions(sql[open1 + 1 : end1 - 1]).strip()
        x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
        if wrap_array:
            p = f"array({p})"
        if weighted:
            xs = _split_args(x)
            if len(xs) != 2:
                raise ChTranslationError(
                    f"{name} requires the (p)(x, weight) combinator form"
                )
            rep = f"{spark_fn}({xs[0].strip()}, {p}, {xs[1].strip()})"
        elif agg_if:
            xs = _split_args(x)
            if len(xs) != 2:
                raise ChTranslationError(
                    f"{name} requires the (p)(x, cond) combinator form"
                )
            rep = (
                f"{spark_fn}({xs[0].strip()}, {p}) "
                f"FILTER (WHERE {xs[1].strip()})"
            )
        else:
            rep = f"{spark_fn}({x}, {p})"
        sql = sql[:at] + rep + sql[end2:]


def _to_datetime64(a: list[str]) -> str:
    """``toDateTime64(x, scale[, tz])``: CH's second argument is a sub-second
    precision SCALE (0..9), not a format string.  Spark TIMESTAMP is fixed at
    microsecond precision, so the scale is dropped and the value cast; the
    3-arg timezone form is refused (Spark pins one session timezone)."""
    if len(a) >= 3:
        raise ChTranslationError(
            "toDateTime64 with an explicit timezone is not supported: Spark "
            "uses the single session timezone (spark.sql.session.timeZone); "
            "drop the third argument"
        )
    return f"CAST({a[0]} AS TIMESTAMP)"


def _ch_format(a: list[str]) -> str:
    """``format('pat', args…)`` → ``format_string``: CH patterns use ``{}``
    (sequential) or ``{N}`` (0-based positional) placeholders with ``{{``/
    ``}}`` brace escapes; Java's Formatter equivalents are ``%s`` and
    ``%{N+1}$s``.  Mixing the two placeholder styles is an error in CH
    itself, so it refuses here too.  Literal ``%`` is escaped to ``%%``."""
    if len(a) < 2:
        raise ChTranslationError("format() requires a pattern and ≥1 argument")
    fmt = a[0].strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ChTranslationError("format() requires a string-literal pattern")
    body, out, i, saw_auto, saw_idx = fmt[1:-1], [], 0, False, False
    while i < len(body):
        c = body[i]
        if c == "{" and i + 1 < len(body) and body[i + 1] == "{":
            out.append("{")
            i += 2
        elif c == "}" and i + 1 < len(body) and body[i + 1] == "}":
            out.append("}")
            i += 2
        elif c == "{":
            j = body.find("}", i)
            if j < 0:
                raise ChTranslationError(f"format(): unbalanced '{{' in {fmt}")
            inner = body[i + 1 : j].strip()
            if inner == "":
                saw_auto = True
                out.append("%s")
            elif inner.isdigit():
                saw_idx = True
                out.append(f"%{int(inner) + 1}$s")
            else:
                raise ChTranslationError(
                    f"format(): unsupported placeholder {{{inner}}} (only "
                    "{} and {N} exist in ClickHouse format())"
                )
            i = j + 1
        elif c == "%":
            out.append("%%")
            i += 1
        else:
            out.append(c)
            i += 1
    if saw_auto and saw_idx:
        raise ChTranslationError(
            "format(): cannot mix {} and {N} placeholders (CH forbids it too)"
        )
    return f"format_string('{''.join(out)}', {', '.join(a[1:])})"


# parseDateTimeBestEffort: practical subset of CH's best-effort grammar —
# ISO forms via TRY_CAST, the common non-ISO layouts the reference's own
# 25-layout chain covers (parser/parser.go:31-65), and bare 9-10-digit
# strings read as epoch seconds.  NULL on no-match in the base form (CH
# throws; Spark SQL rewrites cannot throw data-dependent errors — noted).
_BEST_EFFORT_FMTS = (
    "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy", "MM/dd/yyyy HH:mm:ss",
    "yyyyMMdd HH:mm:ss", "yyyyMMddHHmmss", "yyyyMMdd",
    "dd MMM yyyy HH:mm:ss", "dd-MMM-yyyy HH:mm:ss",
)


def _parse_best_effort(x: str) -> str:
    chain = ", ".join(
        [f"TRY_CAST({x} AS TIMESTAMP)"]
        + [f"try_to_timestamp({x}, '{f}')" for f in _BEST_EFFORT_FMTS]
        + [
            f"CASE WHEN {x} RLIKE '^[0-9]{{9,10}}$' "
            f"THEN to_timestamp(CAST({x} AS BIGINT)) END"
        ]
    )
    return f"coalesce({chain})"


def _refuse(what: str) -> str:
    """Raise the standard typed refusal from inside a rewrite lambda —
    used for arity/variant forms of otherwise-translated functions."""
    raise ChTranslationError(f"no faithful Spark translation for {what}")


def _time_slots(a: list[str]) -> str:
    """``timeSlots(t, duration[, size=1800])`` → array of slot-start
    timestamps covering [t, t+duration] on ``size``-second boundaries.
    The sequence end is clamped to ≥ start (Spark's sequence() silently
    DESCENDS when end < start — a negative duration must yield one slot,
    not a reversed range)."""
    if not 2 <= len(a) <= 3:
        raise ChTranslationError("timeSlots requires (t, duration[, size])")
    sz = a[2] if len(a) == 3 else "1800"
    start = f"CAST(floor(unix_timestamp({a[0]}) / ({sz})) AS BIGINT)"
    end = (
        f"CAST(floor((unix_timestamp({a[0]}) + ({a[1]})) / ({sz})) AS BIGINT)"
    )
    return (
        f"transform(sequence({start}, GREATEST({start}, {end})), "
        f"__tsl_i -> timestamp_seconds(__tsl_i * ({sz})))"
    )


def _format_readable(x: str, base: float, units) -> str:
    """Nested-CASE human formatter (two decimals + unit at the first tier
    where the scaled magnitude fits) — formatReadableSize / -Quantity.
    Callers embed the unit separator in the unit strings.

    Rounding is integer cents = floor(scaled * 100 + 0.5): half-up ON THE
    BINARY double, so the result is a pure function of the IEEE value and
    any engine (Spark, DuckDB, CH) reproduces it bit-for-bit.  Java's
    format_string('%.2f') is NOT — it half-ups the shortest decimal repr
    (19.525 stored as 19.52499…98 still prints '19.53'), which diverges
    from C printf's exact-binary rounding on every shortest-repr .xx5."""
    xd = f"CAST({x} AS DOUBLE)"

    def tier(i: int, u: str) -> str:
        cents = (
            f"CAST(floor(abs({xd}) / {base ** i!r} * 100 + 0.5) AS BIGINT)"
        )
        return (
            f"concat(CASE WHEN {xd} < 0 THEN '-' ELSE '' END, "
            f"CAST({cents} DIV 100 AS STRING), '.', "
            f"lpad(CAST({cents} % 100 AS STRING), 2, '0'), '{u}')"
        )

    branches = [
        f"WHEN abs({xd}) < {base ** (i + 1)!r} THEN {tier(i, u)}"
        for i, u in enumerate(units[:-1])
    ]
    branches.append(f"ELSE {tier(len(units) - 1, units[-1])}")
    return f"(CASE {' '.join(branches)} END)"


def _tuple_element(a: list[str]) -> str:
    """``tupleElement(t, N)`` → ``t._N`` (the 1-based names our ``tuple()``
    rewrite assigns via named_struct); ``tupleElement(t, 'name')`` →
    ``t.name`` (structs from real data keep their field names).  Dynamic
    (non-literal) element selectors have no Spark form."""
    if len(a) != 2:
        raise ChTranslationError("tupleElement requires (tuple, index-or-name)")
    idx = a[1].strip()
    if idx.isdigit():
        return f"({a[0]}).`_{idx}`"
    if idx.startswith("'") and idx.endswith("'"):
        return f"({a[0]}).`{idx[1:-1]}`"
    raise ChTranslationError(
        "tupleElement needs an integer or string literal selector "
        "(dynamic element access has no Spark equivalent)"
    )


def _tuple_text_elems(arg: str) -> list[str] | None:
    """Elements of a TEXT-LEVEL tuple spelling — ``(a, b, ...)`` (needs a
    top-level comma: a bare ``(expr)`` is just parenthesization), an
    explicit ``tuple(a, ...)`` call, or the ``named_struct('_1', a,
    ...)`` the argument-recursive engine has already turned a tuple()
    call into by the time this pass's emit sees it (same reality
    :func:`_pip_parse_tuple` handles) — else None (tuple-typed columns
    carry no text-level arity)."""
    arg = arg.strip()
    m = re.match(r"named_struct\s*\(", arg)
    if m and arg.endswith(")") and _balanced(arg, m.end() - 1) == len(arg):
        parts = _split_args(arg[m.end():-1])
        if len(parts) >= 2 and len(parts) % 2 == 0:
            return [p.strip() for p in parts[1::2]]
        return None
    m = re.match(r"tuple\s*\(", arg)
    if m and arg.endswith(")") and _balanced(arg, m.end() - 1) == len(arg):
        return _split_args(arg[m.end():-1])
    if (arg.startswith("(") and arg.endswith(")")
            and _balanced(arg, 0) == len(arg)):
        elems = _split_args(arg[1:-1])
        if len(elems) >= 2:
            return elems
    return None


def _tuple_arity_refusal(name: str) -> ChTranslationError:
    return ChTranslationError(
        f"{name} needs tuple arguments whose arity is visible at SQL-text"
        " level — a (a, b, ...) literal or tuple(...) call; tuple-typed"
        " columns have no text-level arity to expand element-wise"
    )


def _tuple_binop_fn(name: str, op: str):
    """Element-wise tuple arithmetic → named_struct with CH-style _N
    field names (matching the ``tuple()`` rewrite).  Division emits
    Float64 like CH's divide()."""
    def rw(a: list[str]) -> str:
        if len(a) != 2:
            raise ChTranslationError(f"{name} takes exactly 2 tuples")
        xs, ys = _tuple_text_elems(a[0]), _tuple_text_elems(a[1])
        if xs is None or ys is None:
            raise _tuple_arity_refusal(name)
        if len(xs) != len(ys):
            raise ChTranslationError(
                f"{name}: tuple arities differ ({len(xs)} vs {len(ys)})")
        if op == "/":
            parts = [
                f"'_{i + 1}', (CAST({x} AS DOUBLE) / CAST({y} AS DOUBLE))"
                for i, (x, y) in enumerate(zip(xs, ys))
            ]
        else:
            parts = [
                f"'_{i + 1}', (({x}) {op} ({y}))"
                for i, (x, y) in enumerate(zip(xs, ys))
            ]
        return "named_struct(" + ", ".join(parts) + ")"
    return rw


def _tuple_map1(name: str, a: list[str], f) -> str:
    if len(a) != 1:
        raise ChTranslationError(f"{name} takes exactly 1 tuple")
    xs = _tuple_text_elems(a[0])
    if xs is None:
        raise _tuple_arity_refusal(name)
    return "named_struct(" + ", ".join(
        f"'_{i + 1}', {f(x)}" for i, x in enumerate(xs)) + ")"


def _tuple_by_number(name: str, a: list[str], op: str) -> str:
    if len(a) != 2:
        raise ChTranslationError(f"{name} takes (tuple, number)")
    xs = _tuple_text_elems(a[0])
    if xs is None:
        raise _tuple_arity_refusal(name)
    k = f"({a[1].strip()})"
    if op == "/":
        return "named_struct(" + ", ".join(
            f"'_{i + 1}', (CAST({x} AS DOUBLE) / CAST({k} AS DOUBLE))"
            for i, x in enumerate(xs)) + ")"
    return "named_struct(" + ", ".join(
        f"'_{i + 1}', (({x}) {op} {k})" for i, x in enumerate(xs)) + ")"


def _tuple_hamming(a: list[str]) -> str:
    """Count of non-equal element pairs (CH docs:
    tupleHammingDistance((1, 2, 3), (3, 2, 1)) = 2).  A NULL comparison
    counts as a mismatch (IF's else branch) — documented extension."""
    if len(a) != 2:
        raise ChTranslationError("tupleHammingDistance takes exactly 2 tuples")
    xs, ys = _tuple_text_elems(a[0]), _tuple_text_elems(a[1])
    if xs is None or ys is None:
        raise _tuple_arity_refusal("tupleHammingDistance")
    if len(xs) != len(ys):
        raise ChTranslationError(
            f"tupleHammingDistance: tuple arities differ"
            f" ({len(xs)} vs {len(ys)})")
    return "(" + " + ".join(
        f"IF(({x}) = ({y}), 0, 1)" for x, y in zip(xs, ys)) + ")"


def _tuple_concat(a: list[str]) -> str:
    """tupleConcat: all arguments' elements, renumbered left to right."""
    if not a:
        raise ChTranslationError("tupleConcat needs at least 1 tuple")
    elems: list[str] = []
    for arg in a:
        xs = _tuple_text_elems(arg)
        if xs is None:
            raise _tuple_arity_refusal("tupleConcat")
        elems.extend(xs)
    return "named_struct(" + ", ".join(
        f"'_{i + 1}', {x}" for i, x in enumerate(elems)) + ")"


_FUNNEL_MODES = {"strict_order", "strict_deduplication", "strict_increase"}


def _rewrite_window_funnel(sql: str) -> str:
    """``windowFunnel(W[, 'mode'])(ts, c1, …, cn)`` → a JVM-side fold
    running ClickHouse's exact chain algorithm
    (AggregateFunctionWindowFunnel.h, public source), CONDITION-ORDER
    EXACT: like CH's ``add()``, each event expands into one ``(t, i)``
    entry per condition it matches, the entries are processed in
    (timestamp, condition-index) order, and each entry sees the state
    updates of the same event's earlier entries — so one event matching
    both step i and step i+1 climbs two levels, exactly as in CH.

    State per level: the chain-START timestamp (window checks measure
    from it) and the previous step's OWN timestamp (``strict_increase``
    compares against it).  A ``c1`` entry (re)opens the chain
    unconditionally — CH overwrites slot 0 with the latest start.
    Returns the max level reached (INT).

    Modes (combinable, as in CH): ``'strict_order'`` — an event matching
    NO condition freezes the state once a chain has started (the
    documented "A->B->D->C stops at D" contract; an out-of-order MATCHED
    event is a no-op here, a documented delta from CH's
    freeze-at-first-unset-level code path);
    ``'strict_deduplication'`` — an entry re-matching ANY already-reached
    level (including the first) freezes, per the documented "repeating
    event interrupts further processing" contract;
    ``'strict_increase'`` — a step only advances if its timestamp
    strictly exceeds the previous level's last event.

    Deterministic tie-break: entries with equal timestamps order by
    condition index (CH's stable sort keeps block insertion order there —
    undefined under distribution).
    Scale: one ``collect_list`` per group (the same O(group-size) state
    CH's aggregate holds), zero extra shuffles, no Python."""
    while True:
        at = _find_call(sql, "windowFunnel")
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if not rest.startswith("("):
            raise ChTranslationError(
                "windowFunnel requires the (window)(ts, cond, …) combinator form"
            )
        open2 = end1 + (len(sql[end1:]) - len(rest))
        end2 = _balanced(sql, open2)
        head = _split_args(sql[open1 + 1 : end1 - 1])
        try:
            window_s = int(head[0])
        except (ValueError, IndexError) as e:
            raise ChTranslationError(
                "windowFunnel requires an integer-literal window (seconds)"
            ) from e
        modes = [h.strip().strip("'") for h in head[1:]]
        for mo in modes:
            if mo not in _FUNNEL_MODES:
                raise ChTranslationError(
                    f"windowFunnel mode {mo!r} not supported "
                    f"(supported: {sorted(_FUNNEL_MODES)})"
                )
        body = [_translate_functions(a) for a in _split_args(sql[open2 + 1 : end2 - 1])]
        if len(body) < 2:
            raise ChTranslationError("windowFunnel needs a timestamp and ≥1 condition")
        ts, conds = body[0], body[1:]
        n = len(conds)
        w_us = window_s * 1_000_000
        # acc layout (1-based element_at): [1..n] chain-start per level,
        # [n+1..2n] last-event per level, [2n+1] freeze flag (1 = stopped)
        size = 2 * n + 1
        t_us = f"unix_micros({ts})"
        matched = (
            "filter(array("
            + ", ".join(
                f"IF({c}, named_struct('t', {t_us}, 'e', {i + 1}L), NULL)"
                for i, c in enumerate(conds)
            )
            + "), x -> x IS NOT NULL)"
        )
        if "strict_order" in modes:
            # CH inserts a (t, 0) sentinel for events matching nothing
            entries = (
                f"CASE WHEN size({matched}) = 0 "
                f"THEN array(named_struct('t', {t_us}, 'e', 0L)) "
                f"ELSE {matched} END"
            )
        else:
            entries = matched
        stopped = f"transform(acc, (v, i) -> IF(i = {size - 1}, 1L, v))"
        branches = [f"WHEN element_at(acc, {size}) = 1L THEN acc"]
        if "strict_order" in modes:
            branches.append(
                f"WHEN e.e = 0L THEN IF(element_at(acc, 1) <> -1L, {stopped}, acc)"
            )
        if "strict_deduplication" in modes:
            # documented CH semantics: a repeat of ANY already-reached
            # condition (including the first) interrupts further processing
            branches.append(
                f"WHEN element_at(acc, CAST(e.e AS INT)) <> -1L THEN {stopped}"
            )
        branches.append(
            f"WHEN e.e = 1L THEN transform(acc, (v, i) -> "
            f"CASE WHEN i = 0 OR i = {n} THEN e.t ELSE v END)"
        )
        increase = (
            f" AND element_at(acc, {n} + CAST(e.e AS INT) - 1) < e.t"
            if "strict_increase" in modes
            else ""
        )
        branches.append(
            f"WHEN element_at(acc, CAST(e.e AS INT) - 1) <> -1L "
            f"AND e.t - element_at(acc, CAST(e.e AS INT) - 1) <= {w_us}L{increase} "
            f"THEN transform(acc, (v, i) -> CASE "
            f"WHEN i = CAST(e.e AS INT) - 1 "
            f"THEN element_at(acc, CAST(e.e AS INT) - 1) "
            f"WHEN i = {n} + CAST(e.e AS INT) - 1 THEN e.t "
            f"ELSE v END)"
        )
        rep = (
            f"aggregate("
            f"sort_array(flatten(collect_list({entries}))), "
            f"array_repeat(-1L, {size}), "
            f"(acc, e) -> CASE {' '.join(branches)} ELSE acc END, "
            f"acc -> CAST(size(filter(slice(acc, 1, {n}), v -> v <> -1L)) AS INT))"
        )
        sql = sql[:at] + rep + sql[end2:]


def _parse_seq_pattern(pattern: str, n_conds: int) -> list[tuple]:
    """Parse a ClickHouse sequence pattern literal into items:
    ``('ev', n)`` — one event satisfying condition n; ``('any',)`` — any
    number of events; ``('t', op, seconds)`` — a time constraint between
    the two NEIGHBORING event atoms (the documented grammar,
    AggregateFunctionSequenceMatch.h)."""
    import re as _re

    if n_conds > 26:
        raise ChTranslationError("sequence patterns support ≤ 26 conditions")
    items: list[tuple] = []
    i = 0
    while i < len(pattern):
        if pattern.startswith("(?t", i):
            j = pattern.index(")", i)
            m = _re.fullmatch(r"\s*(<=|>=|==|!=|<|>)\s*(\d+)\s*", pattern[i + 3 : j])
            if not m:
                raise ChTranslationError(
                    f"malformed time constraint {pattern[i : j + 1]!r} "
                    "(supported: (?t OP seconds) with OP in <,>,<=,>=,==)"
                )
            if m.group(1) == "!=":
                raise ChTranslationError(
                    "(?t != N) is not supported (a disjunctive gap constraint)"
                )
            items.append(("t", m.group(1), int(m.group(2))))
            i = j + 1
        elif pattern.startswith("(?", i):
            j = pattern.index(")", i)
            num = pattern[i + 2 : j]
            if not num.isdigit() or not (1 <= int(num) <= n_conds):
                raise ChTranslationError(
                    f"sequence pattern atom (?{num}) out of range 1..{n_conds}"
                )
            items.append(("ev", int(num)))
            i = j + 1
        elif pattern.startswith(".*", i):
            items.append(("any",))
            i += 2
        else:
            raise ChTranslationError(
                f"unsupported sequence pattern syntax at {pattern[i:]!r} "
                "(supported: (?N), .* and (?t OP N))"
            )
    for idx, it in enumerate(items):
        if it[0] == "t" and (
            idx == 0
            or idx == len(items) - 1
            or items[idx - 1][0] != "ev"
            or items[idx + 1][0] != "ev"
        ):
            raise ChTranslationError(
                "(?t…) must sit directly between two event atoms"
            )
    return items


def _seq_markers(items: list[tuple]) -> list[tuple[str, int]]:
    """The distinct gap-threshold markers a pattern needs, sorted so that
    marker presence is MONOTONE in the gap (a marker is present iff the
    gap clears its threshold, and clearing a threshold implies clearing
    every smaller one).  ``('ge', v)`` fires at gap ≥ v, ``('gt', v)`` at
    gap > v — at equal v, ge precedes gt."""
    need: set[tuple[str, int]] = set()
    for it in items:
        if it[0] != "t":
            continue
        _, op, v = it
        if op in ("<=", ">"):
            need.add(("gt", v))
        elif op in ("<", ">="):
            need.add(("ge", v))
        else:  # ==
            need.add(("ge", v))
            need.add(("gt", v))
    markers = sorted(need, key=lambda kv: (kv[1], 0 if kv[0] == "ge" else 1))
    if len(markers) > 26:
        raise ChTranslationError("sequence patterns support ≤ 26 time thresholds")
    return markers


def _seq_regex(items: list[tuple], markers: list[tuple[str, int]]) -> str:
    """Render the pattern as a regex over the event string: events are
    lowercase chars, gap markers uppercase (inserted between consecutive
    kept events, in threshold order).  A time constraint between two
    atoms becomes a marker segment — e.g. with markers [A=ge(v), B=gt(v)]
    ``(?t<=v)`` is ``A?`` (B must be absent: any unmatched marker char
    kills the match), ``(?t>v)`` is ``A?B`` …optional-tail, ``(?t==v)``
    is ``A`` exactly."""
    mchar = {m: chr(65 + i) for i, m in enumerate(markers)}
    all_opt = "".join(f"{mchar[m]}?" for m in markers)

    def segment(op: str, v: int) -> str:
        def opt(until: int) -> str:
            return "".join(f"{mchar[m]}?" for m in markers[:until])

        if op == "<=":
            return opt(markers.index(("gt", v)))
        if op == "<":
            return opt(markers.index(("ge", v)))
        if op == ">":
            i = markers.index(("gt", v))
            return opt(i) + mchar[("gt", v)] + "".join(
                f"{mchar[m]}?" for m in markers[i + 1 :]
            )
        if op == ">=":
            i = markers.index(("ge", v))
            return opt(i) + mchar[("ge", v)] + "".join(
                f"{mchar[m]}?" for m in markers[i + 1 :]
            )
        # ==: gap ≥ v and not gap > v — ge(v) mandatory, nothing after it
        return opt(markers.index(("ge", v))) + mchar[("ge", v)]

    out: list[str] = []
    prev_ev = False
    i = 0
    while i < len(items):
        it = items[i]
        if it[0] == "any":
            out.append(".*")
            prev_ev = False
            i += 1
        elif it[0] == "t":
            out.append(segment(it[1], it[2]))
            out.append(chr(96 + items[i + 1][1]))
            prev_ev = True
            i += 2
        else:
            if prev_ev and markers:
                out.append(all_opt)  # unconstrained adjacency: any gap
            out.append(chr(96 + it[1]))
            prev_ev = True
            i += 1
    return "".join(out)


def _rewrite_sequence(sql: str, name: str, emit) -> str:
    """Shared combinator handling for ``sequenceMatch('pat')(ts, c1, …)``
    and ``sequenceCount``: the group's events that satisfy ≥1 condition
    are time-sorted and rendered as a character string (condition i →
    letter i), then the pattern runs as an ordinary regex — CH's exact
    contract that non-matching events are EXCLUDED from the sequence and
    un-separated atoms must be ADJACENT in what remains
    (AggregateFunctionSequenceMatch.h).

    Delta vs CH: conditions must be mutually exclusive per event — an
    event satisfying several conditions is one sequence entry with
    several flags in CH, which a character string cannot carry; such data
    raises at RUNTIME via raise_error() (loud, never a silent wrong
    answer).  Same-timestamp events order by condition index
    (deterministic; CH leaves it undefined).
    Scale: one collect_list per group — the same O(group) state CH's
    aggregate holds; regex runs once per group, JVM-side."""
    while True:
        at = _find_call(sql, name)
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if not rest.startswith("("):
            raise ChTranslationError(
                f"{name} requires the ('pattern')(ts, cond, …) combinator form"
            )
        open2 = end1 + (len(sql[end1:]) - len(rest))
        end2 = _balanced(sql, open2)
        pat_raw = sql[open1 + 1 : end1 - 1].strip()
        if not (pat_raw.startswith("'") and pat_raw.endswith("'")):
            raise ChTranslationError(f"{name} requires a literal pattern string")
        body = [_translate_functions(a) for a in _split_args(sql[open2 + 1 : end2 - 1])]
        if len(body) < 2:
            raise ChTranslationError(f"{name} needs a timestamp and ≥1 condition")
        ts, conds = body[0], body[1:]
        items = _parse_seq_pattern(pat_raw[1:-1], len(conds))
        markers = _seq_markers(items)
        regex = _seq_regex(items, markers)
        nmatch = " + ".join(f"CASE WHEN {c} THEN 1 ELSE 0 END" for c in conds)
        midx = (
            "CASE "
            + " ".join(f"WHEN {c} THEN {i + 1}" for i, c in enumerate(conds))
            + " END"
        )
        # no-marker path keeps the RAW ts expression (any orderable type —
        # CH accepts UInt* epoch event times); only the gap-marker path
        # needs numeric micros, via CAST so integer epochs (seconds) work
        ts_sort = ts if not markers else f"unix_micros(CAST({ts} AS TIMESTAMP))"
        sorted_arr = (
            f"sort_array(collect_list("
            f"CASE WHEN ({nmatch}) >= 1 THEN named_struct("
            f"'t', {ts_sort}, 'c', char(96 + ({midx}))) END))"
        )
        if not markers:
            seq = f"concat_ws('', transform({sorted_arr}, e -> e.c))"
        else:
            # (?t…) thresholds: insert one uppercase marker char per
            # cleared threshold between consecutive kept events, in
            # threshold order (presence monotone in gap — see _seq_markers)
            gap = "(element_at(__a, __i).t - element_at(__a, __i - 1).t)"
            mk = "".join(
                f"IF({gap} {'>' if kind == 'gt' else '>='} "
                f"{v * 1_000_000}L, '{chr(65 + i)}', '') || "
                for i, (kind, v) in enumerate(markers)
            )
            seq = _bind_arr(
                sorted_arr,
                lambda a: (
                    f"IF(size({a}) = 0, '', concat_ws('', "
                    f"transform(sequence(1, size({a})), __i -> "
                    f"CASE WHEN __i = 1 THEN element_at({a}, 1).c "
                    f"ELSE {{mk}}element_at({a}, __i).c END)))"
                ).format(mk=mk.replace("__a", a)),
            )
        guard = (
            f"CASE WHEN max({nmatch}) > 1 THEN "
            f"raise_error('sequence conditions must be mutually exclusive "
            f"per event (CH multi-flag events are untranslatable)') "
        )
        rep = guard + f"ELSE {emit(seq, regex)} END"
        sql = sql[:at] + rep + sql[end2:]


def _retention(a: list[str]) -> str:
    """``retention(c1, …, cn)`` → array of n 0/1 INTs: element 1 is
    whether ``c1`` ever held in the group; element i is whether BOTH
    ``c1`` and ``ci`` ever held (ClickHouse retention() contract — the
    conditions need not hold on the same row)."""
    if len(a) < 2:
        raise ChTranslationError("retention requires at least 2 conditions")
    first = f"max(CASE WHEN {a[0]} THEN 1 ELSE 0 END)"
    elems = [f"CAST({first} AS INT)"] + [
        f"CAST(LEAST({first}, max(CASE WHEN {c} THEN 1 ELSE 0 END)) AS INT)"
        for c in a[1:]
    ]
    return f"array({', '.join(elems)})"


# Aggregate bases accepted by the GENERIC CH combinators below.  CH lets
# -If / -OrNull / -OrDefault attach to any aggregate; these are the bases
# this translator itself knows how to translate afterwards.
_COMBINATOR_BASES = (
    "sum", "min", "max", "avg", "any", "anyLast", "count", "median",
    "medianExact", "stddevPop", "stddevSamp", "varPop", "varSamp",
    "covarPop", "covarSamp", "corr", "skewPop", "kurtPop", "groupArray",
    "groupUniqArray", "uniq", "uniqExact", "avgWeighted", "argMin",
    "argMax", "sumKahan", "countDistinct", "sumDistinct",
)

# aggregates Spark already returns NULL for on an empty/all-filtered group
# — their -OrNull form is the plain call
_ORNULL_IDENTITY = (
    "sum", "min", "max", "avg", "any", "anyLast", "median", "medianExact",
    "stddevPop", "stddevSamp", "varPop", "varSamp", "covarPop", "covarSamp",
    "corr", "skewPop", "kurtPop", "argMin", "argMax", "avgWeighted",
    "sumKahan", "sumDistinct",
)

# counting aggregates return 0 on empty — -OrNull needs a nullif(·, 0)
_ORNULL_COUNTING = ("count", "uniq", "uniqExact", "countDistinct")

# numeric aggregates whose CH result-type default is 0 — -OrDefault is a
# coalesce(·, 0)
_ORDEFAULT_ZERO = (
    "sum", "min", "max", "avg", "median", "medianExact", "stddevPop",
    "stddevSamp", "varPop", "varSamp", "covarPop", "covarSamp", "corr",
    "skewPop", "kurtPop", "avgWeighted", "sumKahan", "sumDistinct",
)


_STRING_PRODUCERS = re.compile(
    r"^(toString|lower|lowerUTF8|upper|upperUTF8|substring|substr|"
    r"concat|concat_ws|concatWithSeparator|char|trim|trimLeft|trimRight|"
    r"ltrim|rtrim|reverseUTF8|hex|bin|base64Encode|formatDateTime|"
    r"arrayStringConcat|toFixedString|left|right|repeat|replaceAll|"
    r"replaceOne|normalizeUTF8NF\w+)\s*\(",
    re.IGNORECASE,
)


def _stringish(arg: str) -> bool:
    """Syntactic/catalog evidence that ``arg`` is string-typed: a quoted
    literal, a bare column the catalog knows is a string, or a call to a
    string-producing function.  Used to gate the byte-hash family — CH
    hashes an argument's BINARY representation, so admitting an unknown
    type would silently produce non-CH values (e.g. a numeric column
    implicitly cast to its decimal string)."""
    s = arg.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return True
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s):
        return s.lower() in _CATALOG.get().strings
    return bool(_STRING_PRODUCERS.match(s))


def _byte_hash_fn(name: str, str_udf: str, int_udf: str, int_re: str):
    """Rewrite rule for sipHash64/xxHash64/xxHash32: string-typed
    arguments go to the byte-wise UDF; an explicit to[U]IntN() wrapper
    selects the fixed-width binary variant (the wrapper call text is kept
    — later passes translate it to the CAST the UDF receives); anything
    else refuses loudly instead of hashing a silently-stringified value.
    Multi-argument forms refuse: CH chains per-argument hash states
    (Hash.h applyVisitor folds), which has no published closed form worth
    emulating byte-for-byte."""
    def rw(a: list[str]) -> str:
        if len(a) != 1:
            raise ChTranslationError(
                f"{name} over multiple arguments (CH folds per-argument"
                " hash states) — hash an explicit concatenation instead,"
                f" e.g. {name}(concat(a, '#', b))"
            )
        arg = a[0].strip()
        if re.match(int_re, arg, re.IGNORECASE):
            return f"{int_udf}({arg})"
        if _stringish(arg):
            return f"{str_udf}({arg})"
        raise ChTranslationError(
            f"{name} over an argument of unknown type: ClickHouse hashes"
            " the argument's BINARY width, so only string-typed arguments"
            f" (literal / catalog-known string column / string function)"
            f" translate directly — wrap in toString() for string-bytes"
            " semantics or an explicit integer cast for fixed-width"
            " semantics"
        )
    return rw


def _keyed_sip_fn(name: str, str_udf: str, int_udf: str, int_re: str):
    """Rewrite rule for the keyed SipHash family: CH's call shape is
    ``name((k0, k1), arg)`` — the key tuple must be spelled as a
    parenthesized pair at SQL-text level (a tuple-typed key COLUMN has
    no text-level arity, so it refuses).  Keys ride DECIMAL(20, 0) to
    carry the full UInt64 domain (same carrier as intHash64, ADVICE r8);
    the UDF's ``int(k) & 2^64-1`` does two's-complement widening.  The
    data argument gates exactly like the unkeyed forms
    (:func:`_byte_hash_fn`): string-typed → byte-wise UDF, an explicit
    to[U]Int64 wrapper → the fixed-width variant, else refuse."""
    def rw(a: list[str]) -> str:
        if len(a) != 2:
            raise ChTranslationError(
                f"{name} takes ((k0, k1), arg) — multi-argument data"
                " forms fold per-argument hash states (no published"
                f" closed form); hash an explicit concatenation instead"
            )
        key = a[0].strip()
        if not (key.startswith("(") and _balanced(key, 0) == len(key)):
            raise ChTranslationError(
                f"{name} key must be written as a (k0, k1) tuple at SQL"
                " level — tuple-typed key columns carry no text-level"
                " arity for the translator to split"
            )
        ks = _split_args(key[1:-1])
        if len(ks) != 2:
            raise ChTranslationError(
                f"{name} key tuple needs exactly 2 elements (k0, k1),"
                f" got {len(ks)}"
            )
        k0 = f"CAST({ks[0].strip()} AS DECIMAL(20, 0))"
        k1 = f"CAST({ks[1].strip()} AS DECIMAL(20, 0))"
        arg = a[1].strip()
        if re.match(int_re, arg, re.IGNORECASE):
            return f"{int_udf}({k0}, {k1}, {arg})"
        if _stringish(arg):
            return f"{str_udf}({k0}, {k1}, {arg})"
        raise ChTranslationError(
            f"{name} over a data argument of unknown type: ClickHouse"
            " hashes the argument's BINARY width, so only string-typed"
            " arguments (literal / catalog-known string column / string"
            " function) translate directly — wrap in toString() for"
            " string-bytes semantics"
        )
    return rw


def _crc_fn(name: str, udf: str):
    """CRC32IEEE/CRC64 rewrite: CH's CRC functions accept String only
    (the server throws an Illegal-type exception otherwise), so the
    translation admits string-typed arguments and refuses the rest."""
    def rw(a: list[str]) -> str:
        if len(a) != 1:
            raise ChTranslationError(f"{name} takes exactly 1 argument")
        arg = a[0].strip()
        if _stringish(arg):
            return f"{udf}({arg})"
        raise ChTranslationError(
            f"{name} takes a String argument (ClickHouse throws on"
            " non-string types) — only string-typed arguments (literal /"
            " catalog-known string column / string function) translate;"
            " wrap in toString() for string-bytes semantics"
        )
    return rw


def _int_hash_fn(name: str, udf: str):
    """intHash32/intHash64 take an INTEGER argument (CH widens with
    static_cast<UInt64> — sign extension; the UDF applies the same
    two's-complement widening via ``& 2^64-1``).  String-typed arguments
    refuse loudly: CH has no implicit string→integer conversion in hash
    arguments either."""
    def rw(a: list[str]) -> str:
        if len(a) != 1:
            raise ChTranslationError(f"{name} takes exactly 1 argument")
        arg = a[0].strip()
        if _stringish(arg):
            raise ChTranslationError(
                f"{name} is an integer hash — cast the argument"
                " explicitly (toUInt64(...)), or use a string hash"
                " (cityHash64/sipHash64) for string keys"
            )
        # DECIMAL(20,0) carries the full UInt64 domain: toUInt64(x)
        # renders as DECIMAL(20,0), and values in [2^63, 2^64) — e.g.
        # re-hashing another hash's output for SAMPLE BY — would
        # overflow an ANSI BIGINT cast.  The UDF's ``int(v) & 2^64-1``
        # does the two's-complement widening either way.
        return f"{udf}(CAST({arg} AS DECIMAL(20, 0)))"
    return rw


_WIDTH_RE = re.compile(r"^to(U)?Int(8|16|32|64)\s*\(", re.IGNORECASE)


def _width_gated_fn(name: str, nargs: int, emit):
    """Width-dependent bit operations (byteSwap, bitRotate*): the result
    wraps at the first argument's declared integer width, which only an
    explicit ``to[U]IntN(...)`` wrapper makes visible at SQL-text level.
    ``emit(args, width_bytes)`` builds the replacement."""
    def rw(a: list[str]) -> str:
        if len(a) != nargs:
            raise ChTranslationError(f"{name} takes {nargs} argument(s)")
        m = _WIDTH_RE.match(a[0].strip())
        if not m:
            raise ChTranslationError(
                f"{name} needs an explicit to[U]IntN(...) wrapper on its"
                " first argument — the result wraps at the argument's"
                " declared width, invisible at SQL-text level")
        return emit([q.strip() for q in a], int(m.group(2)) // 8)
    return rw


def _recentre_signed(expr: str, a0: str, width_bytes: int) -> str:
    """ClickHouse's byteSwap/bitRotate return the ARGUMENT's type: a
    signed ``toIntN`` wrapper means a result with the top bit set is
    negative (byteSwap(toInt16(255)) = −256, bitRotateLeft(toInt8(−1), 1)
    = −1).  The UDFs return the raw bit pattern in [0, 2^bits); re-center
    signed widths the same way sumWithOverflow does and emit BIGINT."""
    m = re.match(_WIDTH_RE, a0)
    if m.group(1):  # unsigned wrapper — the raw bit pattern IS the value
        return expr
    bits = 8 * width_bytes
    half = 1 << (bits - 1)
    return (f"CAST(pmod({expr} + {half}, {1 << bits}) - {half}"
            f" AS BIGINT)")


def _ttest_fn(name: str):
    """``welchTTest(v, idx)`` / ``studentTTest(v, idx)`` → (t, p) tuple
    (AggregateFunctionTTest semantics: idx 0 is the first sample, t =
    mean(idx=0) - mean(idx=1) over the standard error; p two-sided).
    Everything except the Student CDF is pure JVM aggregate expressions
    (count/avg/var_samp with FILTER — Catalyst dedups the repeated
    aggregates); the CDF rides the ``ch_student_p`` Arrow UDF over ONE
    scalar per group.  try_divide throughout: degenerate samples (n < 2,
    zero variance) yield NULL, never an ANSI division error."""
    welch = name == "welchTTest"

    def rw(a: list[str]) -> str:
        if len(a) != 2:
            raise ChTranslationError(
                f"{name}(sample_data, sample_index) — the"
                " (confidence_level) combinator form is not supported"
            )
        v, i = a

        def agg(f: str, k: int) -> str:
            return f"{f}({v}) FILTER (WHERE ({i}) = {k})"

        n0, n1 = agg("count", 0), agg("count", 1)
        m0, m1 = agg("avg", 0), agg("avg", 1)
        s0, s1 = agg("var_samp", 0), agg("var_samp", 1)
        if welch:
            v0 = f"try_divide({s0}, {n0})"
            v1 = f"try_divide({s1}, {n1})"
            se2 = f"({v0} + {v1})"
            t = f"try_divide({m0} - {m1}, sqrt({se2}))"
            df = (
                f"try_divide({se2} * {se2},"
                f" try_divide({v0} * {v0}, {n0} - 1)"
                f" + try_divide({v1} * {v1}, {n1} - 1))"
            )
        else:
            sp2 = (
                f"try_divide(({n0} - 1) * {s0} + ({n1} - 1) * {s1},"
                f" {n0} + {n1} - 2)"
            )
            t = (
                f"try_divide({m0} - {m1},"
                f" sqrt({sp2} * (try_divide(1, {n0}) + try_divide(1, {n1}))))"
            )
            df = f"CAST({n0} + {n1} - 2 AS DOUBLE)"
        return f"named_struct('_1', {t}, '_2', ch_student_p({t}, {df}))"

    return rw


def _mann_whitney_pass(sql: str) -> str:
    """``mannWhitneyUTest[('two-sided'[, cc])](sample_data, sample_index)``
    → (u, p): Mann-Whitney U by the standard published construction —
    tie-averaged POOLED ranks (the rankCorr machinery), U₁ = R₁ −
    n₁(n₁+1)/2 for sample_index = 0, normal approximation with the tie
    correction Σ(t³−t)/(n(n−1)) and the continuity correction (default
    on, like CH), p two-sided via the libm-exact erfc UDF.  The returned
    statistic is U₁ of the FIRST sample (the scipy convention CH's own
    tests compare against) — the one residual convention surface, stated
    here because no local CH instance can pin it.  'greater'/'less'
    REFUSE: the one-sided p's sign convention depends on exactly that
    unpinnable choice, and a silently sign-flipped p is worse than no
    translation.  One collect_list fold per group; O(n²) array_position
    rank work per GROUP (grouped-stats contract, as rankCorr)."""
    while True:
        at = _find_call(sql, "mannWhitneyUTest")
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if rest.startswith("("):
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            params = _split_args(sql[open1 + 1 : end1 - 1])
            args = _split_args(sql[open2 + 1 : end2 - 1])
            endall = end2
        else:
            params, args, endall = [], _split_args(sql[open1 + 1 : end1 - 1]), end1
        if params:
            alt = params[0].strip().strip("'")
            if alt != "two-sided":
                raise ChTranslationError(
                    "mannWhitneyUTest alternative 'two-sided' only — the"
                    " one-sided U/z sign convention has no locally"
                    " verifiable pin (see docstring)")
            cc = params[1].strip() if len(params) > 1 else "1"
            if cc not in ("0", "1"):
                raise ChTranslationError(
                    "mannWhitneyUTest continuity_correction must be the"
                    " literal 0 or 1")
        else:
            cc = "1"
        if len(args) != 2:
            raise ChTranslationError(
                "mannWhitneyUTest takes (sample_data, sample_index)")
        v, i = args
        # Spark forbids lambda functions anywhere inside a Python UDF's
        # argument tree, so the rank/tie machinery cannot be a SQL fold
        # feeding erfc — the whole statistic rides ONE Arrow UDF over the
        # group's collected pair array (collect_list of a CASE skips NULL
        # rows without a filter() lambda)
        pairs = (
            f"collect_list(CASE WHEN ({v}) IS NOT NULL"
            f" AND ({i}) IS NOT NULL THEN named_struct("
            f"'v', CAST({v} AS DOUBLE), 'i', CAST({i} AS BIGINT)) END)"
        )
        expr = f"ch_mw_utest({pairs}, {cc})"
        sql = sql[:at] + expr + sql[endall:]


def _ks_test_pass(sql: str) -> str:
    """``kolmogorovSmirnovTest['two-sided'[, 'asymp']](sample_data,
    sample_index)`` → (d_statistic, p_value) (r10; previously refused).
    The two-sided D statistic is a deterministic sorted merge fold —
    sup_x |ECDF₀ − ECDF₁| evaluated per tie group — and the asymptotic
    p-value is the published Kolmogorov series
    2·Σ(−1)^{k−1}e^{−2k²λ²}, λ = D·√(n₀n₁/(n₀+n₁)) (the scipy
    ks_2samp(mode='asymp') convention CH's stateless tests compare
    against — the same residual convention surface as
    mannWhitneyUTest, stated because no local CH instance can pin it).
    r11 (VERDICT order #7): 'exact' and 'auto' now TRANSLATE — the
    exact p-value is the lattice-path permutation count (Schröer &
    Trenkler 1995 / Viehmann 2021, the construction CH's own source
    cites), computed over the EXACT integer deviation h = max|c0·n1 −
    c1·n0| (no rounding convention exists to mismatch, so the one
    surface that made r10 refuse is gone) and brute-force-model-pinned
    at small n in tests/test_properties.py; 'auto' applies CH's
    documented ≤10 000-samples switch inside the UDF per group.  Tie
    convention stated in the UDF docstring (continuous-case lattice,
    the R/scipy standard).  'greater'/'less' still REFUSE (one-sided
    orientation unpinnable, as MWU).  One collect_list fold per group
    (grouped-stats contract)."""
    while True:
        at = _find_call(sql, "kolmogorovSmirnovTest")
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if rest.startswith("("):
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            params = _split_args(sql[open1 + 1 : end1 - 1])
            args = _split_args(sql[open2 + 1 : end2 - 1])
            endall = end2
        else:
            params, args, endall = [], _split_args(sql[open1 + 1 : end1 - 1]), end1
        # parameterless form: CH defaults ('two-sided', 'auto') — both
        # translate as of r11
        alt = (params[0].strip().strip("'") if params else "two-sided")
        if alt != "two-sided":
            raise ChTranslationError(
                "kolmogorovSmirnovTest alternative 'two-sided' only — the"
                " one-sided D⁺/D⁻ orientation convention has no locally"
                " verifiable pin (see docstring; same surface as"
                " mannWhitneyUTest)")
        method = (params[1].strip().strip("'")
                  if len(params) > 1 else "auto")
        udf = {"asymp": "ch_ks_test", "asymptotic": "ch_ks_test",
               "exact": "ch_ks_test_exact",
               "auto": "ch_ks_test_auto"}.get(method)
        if udf is None:
            raise ChTranslationError(
                f"kolmogorovSmirnovTest computation_method {method!r} is"
                " not a CH method: use 'exact', 'asymp'/'asymptotic',"
                " or 'auto'")
        if len(args) != 2:
            raise ChTranslationError(
                "kolmogorovSmirnovTest takes (sample_data, sample_index)")
        v, i = args
        pairs = (
            f"collect_list(CASE WHEN ({v}) IS NOT NULL"
            f" AND ({i}) IS NOT NULL THEN named_struct("
            f"'v', CAST({v} AS DOUBLE), 'i', CAST({i} AS BIGINT)) END)"
        )
        sql = sql[:at] + f"{udf}({pairs})" + sql[endall:]


def _mean_z_test(param: str, a: list[str]) -> str:
    """``meanZTest(σx², σy², confidence)(sample_data, sample_index)`` →
    (z, p, ci_low, ci_high): two-sample z with KNOWN population
    variances — pure moment aggregates (avg/count with FILTER, Catalyst
    dedups), p two-sided via erfc, and the confidence interval of the
    mean difference via the bisection-exact normal quantile UDF.
    Degenerate samples → NULL through try_divide, never an ANSI error."""
    params = _split_args(param)
    if len(params) != 3:
        raise ChTranslationError(
            "meanZTest(population_variance_x, population_variance_y,"
            " confidence_level)(sample_data, sample_index)")
    vx, vy, conf = (q.strip() for q in params)
    for q in (vx, vy, conf):
        if not re.fullmatch(r"\d+(\.\d+)?", q):
            raise ChTranslationError(
                f"meanZTest parameters must be numeric literals, got {q!r}")
    if len(a) != 2:
        raise ChTranslationError(
            "meanZTest takes (sample_data, sample_index)")
    v, i = a

    def agg(f: str, k: int) -> str:
        return f"{f}({v}) FILTER (WHERE ({i}) = {k})"

    n0, n1 = agg("count", 0), agg("count", 1)
    m0, m1 = agg("avg", 0), agg("avg", 1)
    se = f"sqrt(try_divide({vx}, {n0}) + try_divide({vy}, {n1}))"
    z = f"try_divide({m0} - {m1}, {se})"
    zq = f"ch_norm_quantile((1.0 + {conf}) / 2.0)"
    return (
        f"named_struct('_1', {z},"
        f" '_2', ch_erfc(abs({z}) / sqrt(2.0)),"
        f" '_3', ({m0} - {m1}) - {zq} * {se},"
        f" '_4', ({m0} - {m1}) + {zq} * {se})"
    )


def _proportions_z_test(a: list[str]) -> str:
    """``proportionsZTest(sx, sy, tx, ty, conf, 'pooled'|'unpooled')`` →
    (z, p, ci_low, ci_high) — a per-ROW scalar in CH (the counts are
    already aggregated).  z uses the requested variance pooling; p is
    the two-sided normal tail via libm erfc; the confidence interval of
    the proportion DIFFERENCE uses the standard unpooled Wald standard
    error with the bisection-exact normal quantile (the conventional
    pairing — pooled se is a test-only construct; documented as this
    repo's contract).  Degenerate inputs (zero trials, p outside (0,1))
    → NULL via try_divide, never an ANSI error."""
    if len(a) != 6:
        raise ChTranslationError(
            "proportionsZTest(successes_x, successes_y, trials_x,"
            " trials_y, confidence_level, 'pooled'|'unpooled')")
    sx, sy, tx, ty, conf, usevar = (q.strip() for q in a)
    uv = usevar.strip("'").lower()
    if uv not in ("pooled", "unpooled"):
        raise ChTranslationError(
            "proportionsZTest pool type must be the literal 'pooled' or"
            " 'unpooled'")
    if not re.fullmatch(r"0?\.\d+|1(\.0+)?", conf):
        raise ChTranslationError(
            "proportionsZTest confidence_level must be a numeric literal"
            " in (0, 1)")
    p1 = f"try_divide(CAST({sx} AS DOUBLE), {tx})"
    p2 = f"try_divide(CAST({sy} AS DOUBLE), {ty})"
    if uv == "pooled":
        pp = f"try_divide(CAST({sx} AS DOUBLE) + ({sy}), ({tx}) + ({ty}))"
        se_z = (f"sqrt({pp} * (1 - {pp})"
                f" * (try_divide(1, {tx}) + try_divide(1, {ty})))")
    else:
        se_z = (f"sqrt(try_divide({p1} * (1 - {p1}), {tx})"
                f" + try_divide({p2} * (1 - {p2}), {ty}))")
    se_ci = (f"sqrt(try_divide({p1} * (1 - {p1}), {tx})"
             f" + try_divide({p2} * (1 - {p2}), {ty}))")
    z = f"try_divide({p1} - {p2}, {se_z})"
    zq = f"ch_norm_quantile((1.0 + {conf}) / 2.0)"
    return (
        f"named_struct('_1', {z},"
        f" '_2', ch_erfc(abs({z}) / sqrt(2.0)),"
        f" '_3', ({p1} - {p2}) - {zq} * {se_ci},"
        f" '_4', ({p1} - {p2}) + {zq} * {se_ci})"
    )


def _rank_corr(a: list[str]) -> str:
    """``rankCorr(x, y)`` → Spearman rank correlation = Pearson over
    AVERAGE ranks (the tie-correct definition CH implements).  One real
    aggregate — ``collect_list(struct(x, y))`` with NULL pairs filtered —
    then pure array expressions: sorted copies of each variable bound
    ONCE in a named_struct (Spark does no CSE inside lambdas — the
    one-element-array let-binding from ``_bind_arr``, with reversed
    copies carried as extra fields per the nested-binding rule), average
    rank of v = (first_pos + last_pos)/2 via array_position on the sorted
    and reversed arrays, and a single fold for the Pearson sums.
    O(n²) array_position work per GROUP (CH streams in O(n log n)) —
    fine for grouped stats, documented for 100 TB: the per-group pair
    list must fit an executor, same contract as CH's own memory-bound
    rank state.  Degenerate groups (n < 2, constant variable) → NULL via
    try_divide, never an ANSI error."""
    if len(a) != 2:
        raise ChTranslationError("rankCorr(x, y) takes exactly 2 arguments")
    x, y = a
    pairs = (
        f"filter(collect_list(named_struct('x', CAST({x} AS DOUBLE),"
        f" 'y', CAST({y} AS DOUBLE))),"
        " q -> q.x IS NOT NULL AND q.y IS NOT NULL)"
    )
    binding = (
        "named_struct("
        f"'p', {pairs}, "
        f"'ax', sort_array(transform({pairs}, q -> q.x)), "
        f"'ay', sort_array(transform({pairs}, q -> q.y)), "
        f"'rax', reverse(sort_array(transform({pairs}, q -> q.x))), "
        f"'ray', reverse(sort_array(transform({pairs}, q -> q.y))))"
    )
    # avg rank of v: (first_pos + last_pos) / 2 = (array_position(sorted)
    # + n - array_position(reversed) + 1) / 2; the reversed copies are
    # PRE-BOUND fields — computing reverse() inside the per-element
    # lambda would copy the array O(n) times (no CSE in lambdas)
    rx = ("(array_position(b.ax, q.x)"
          " + size(b.p) - array_position(b.rax, q.x) + 1) / 2.0")
    ry = ("(array_position(b.ay, q.y)"
          " + size(b.p) - array_position(b.ray, q.y) + 1) / 2.0")
    fold = (
        "aggregate("
        f"transform(b.p, q -> named_struct('rx', {rx}, 'ry', {ry})), "
        "named_struct('sx', 0.0D, 'sy', 0.0D, 'sxx', 0.0D, 'syy', 0.0D,"
        " 'sxy', 0.0D), "
        "(acc, r) -> named_struct("
        "'sx', acc.sx + r.rx, 'sy', acc.sy + r.ry,"
        " 'sxx', acc.sxx + r.rx * r.rx, 'syy', acc.syy + r.ry * r.ry,"
        " 'sxy', acc.sxy + r.rx * r.ry), "
        "acc -> try_divide("
        "size(b.p) * acc.sxy - acc.sx * acc.sy,"
        " sqrt(size(b.p) * acc.sxx - acc.sx * acc.sx)"
        " * sqrt(size(b.p) * acc.syy - acc.sy * acc.sy)))"
    )
    return f"element_at(transform(array({binding}), b -> {fold}), 1)"


def _assoc_fn(kind: str):
    """``cramersV(a, b)`` / ``contingency(a, b)`` / ``theilsU(a, b)`` /
    ``cramersVBiasCorrected(a, b)`` — categorical association, computed
    as ONE collect_list aggregate plus pure array expressions: rows with
    either value NULL are skipped (CH aggregate NULL semantics), values
    stringified for uniform equality, distinct pairs enumerated once,
    observed/marginal counts via filter() sizes over the let-bound pair
    array.

    χ² = n·(Σ o²/(r·c) − 1); Cramér's V = sqrt(χ²/(n·(min(k1,k2)−1)));
    contingency coefficient = sqrt(χ²/(χ²+n)).

    theilsU follows CH's CrossTab.h orientation EXACTLY:
    result = (dep − h_a)/h_a with h_a = Σ_a (n_a/n)·ln(n_a/n) and
    dep = Σ_ab (n_ab/n)·ln(n_ab/n_b) — note this is the NEGATIVE of the
    textbook uncertainty coefficient U(a|b) (independence → 0, a
    functionally determined by b → −1); the independently recalled
    formula reproduces the CH-docs example value −0.30195720557678846
    over numbers(150) a=n%10, b=n%4 to 15 digits (pinned in pytest).

    cramersVBiasCorrected is Bergsma's published correction (Bergsma
    2013, "A bias-correction for Cramér's V and Tschuprow's T"):
    φ²⁺ = max(0, χ²/n − (k1−1)(k2−1)/(n−1)),
    k̃ = k − (k−1)²/(n−1) for each margin,
    V⁺ = sqrt(φ²⁺ / min(k̃1−1, k̃2−1)).

    O(n·k) filter work per GROUP (k = distinct pairs) — grouped-stats
    scale, same per-group memory contract as rankCorr; degenerate
    groups (n < 2, constant margins) → NULL via try_divide."""
    def rw(a: list[str]) -> str:
        if len(a) != 2:
            raise ChTranslationError(f"{kind}(a, b) takes exactly 2 arguments")
        x, y = a
        pairs = (
            f"filter(collect_list(named_struct('a', CAST({x} AS STRING),"
            f" 'b', CAST({y} AS STRING))),"
            " q -> q.a IS NOT NULL AND q.b IS NOT NULL)"
        )
        binding = f"named_struct('p', {pairs}, 'dp', array_distinct({pairs}))"
        chi2 = (
            "CAST(size(b.p) AS DOUBLE) * (aggregate(b.dp, 0.0D, (acc, q) ->"
            " acc + try_divide("
            "CAST(size(filter(b.p, e -> e.a = q.a AND e.b = q.b)) AS DOUBLE)"
            " * size(filter(b.p, e -> e.a = q.a AND e.b = q.b)),"
            " CAST(size(filter(b.p, e -> e.a = q.a)) AS DOUBLE)"
            " * size(filter(b.p, e -> e.b = q.b)))) - 1.0D)"
        )
        k1 = "size(array_distinct(transform(b.p, e -> e.a)))"
        k2 = "size(array_distinct(transform(b.p, e -> e.b)))"
        if kind == "cramersV":
            body = (f"sqrt(try_divide({chi2},"
                    f" size(b.p) * (LEAST({k1}, {k2}) - 1)))")
        elif kind == "contingency":
            body = f"sqrt(try_divide({chi2}, {chi2} + size(b.p)))"
        elif kind == "theilsU":
            h_a = (
                "aggregate(array_distinct(transform(b.p, e -> e.a)), 0.0D,"
                " (acc, v) -> acc"
                " + CAST(size(filter(b.p, e -> e.a = v)) AS DOUBLE)"
                " / size(b.p)"
                " * ln(CAST(size(filter(b.p, e -> e.a = v)) AS DOUBLE)"
                " / size(b.p)))"
            )
            dep = (
                "aggregate(b.dp, 0.0D, (acc, q) -> acc"
                " + CAST(size(filter(b.p, e -> e.a = q.a AND e.b = q.b))"
                " AS DOUBLE) / size(b.p)"
                " * ln(CAST(size(filter(b.p, e -> e.a = q.a"
                " AND e.b = q.b)) AS DOUBLE)"
                " / size(filter(b.p, e -> e.b = q.b))))"
            )
            # h_a = 0 for a constant first column -> NULL via try_divide
            body = f"try_divide(({dep}) - ({h_a}), {h_a})"
        else:  # cramersVBiasCorrected — Bergsma's published correction
            n = "CAST(size(b.p) AS DOUBLE)"
            phi2p = (f"GREATEST(0.0D, try_divide({chi2}, {n})"
                     f" - try_divide(({k1} - 1.0D) * ({k2} - 1.0D),"
                     f" {n} - 1.0D))")
            k1c = (f"({k1} - try_divide(({k1} - 1.0D) * ({k1} - 1.0D),"
                   f" {n} - 1.0D))")
            k2c = (f"({k2} - try_divide(({k2} - 1.0D) * ({k2} - 1.0D),"
                   f" {n} - 1.0D))")
            body = (f"sqrt(try_divide({phi2p},"
                    f" LEAST({k1c}, {k2c}) - 1.0D))")
        return f"element_at(transform(array({binding}), b -> {body}), 1)"

    return rw


def _pip_parse_tuple(text: str):
    """Parse a 2-tuple spelling — ``(x, y)``, ``tuple(x, y)``, or the
    ``named_struct('_1', x, '_2', y)`` an earlier tuple() pass emitted —
    into its two component texts; None if it isn't one."""
    t = text.strip()
    if re.match(r"^named_struct\s*\(", t) and t.endswith(")"):
        parts = _split_args(t[t.index("(") + 1 : -1])
        if len(parts) == 4:
            return [parts[1].strip(), parts[3].strip()]
        return None
    if re.match(r"^(tuple\s*)?\(", t) and t.endswith(")"):
        parts = _split_args(t[t.index("(") + 1 : -1])
        if len(parts) == 2:
            return [parts[0].strip(), parts[1].strip()]
    return None


def _pip_parse_ring(text: str):
    """Parse a polygon-ring literal — ``[(x1,y1), ...]`` or the
    bracket-pass spelling ``array((x1,y1), ...)`` — into a list of
    (x, y) component-text pairs; None if it isn't one."""
    t = text.strip()
    if t.startswith("[") and t.endswith("]"):
        inner = t[1:-1]
    elif re.match(r"^array\s*\(", t) and t.endswith(")"):
        inner = t[t.index("(") + 1 : -1]
    else:
        return None
    pts = [_pip_parse_tuple(p) for p in _split_args(inner)]
    return pts if pts and all(p is not None for p in pts) else None


def _pip_parse_polygon(text: str):
    """Parse a POLYGON literal — ``[[ring], [hole], …]`` (or the
    bracket-pass ``array(array(...), ...)`` spelling) — into a list of
    rings; None if it isn't one."""
    t = text.strip()
    if t.startswith("[") and t.endswith("]"):
        inner = t[1:-1]
    elif re.match(r"^array\s*\(", t) and t.endswith(")"):
        inner = t[t.index("(") + 1 : -1]
    else:
        return None
    rings = [_pip_parse_ring(r) for r in _split_args(inner)]
    if not rings or any(r is None or len(r) < 3 for r in rings):
        return None
    return rings


def _pip_ring_arrays(ring):
    """(vertices, rotated-vertices) SQL array texts for a ring — the
    zip of a ring with its rotation walks every edge INCLUDING the
    auto-closing one, the same cyclic convention CH applies."""
    def vstruct(p):
        return (f"named_struct('x', CAST({p[0]} AS DOUBLE),"
                f" 'y', CAST({p[1]} AS DOUBLE))")
    vs = ", ".join(vstruct(p) for p in ring)
    vs2 = ", ".join(vstruct(p) for p in ring[1:] + ring[:1])
    return f"array({vs})", f"array({vs2})"


def _polygon_fold_fn(name: str, edge_expr: str, per_ring_wrap: str):
    """Shared rewrite for polygonAreaCartesian / polygonPerimeter-
    Cartesian: fold ``edge_expr`` over every edge of every ring of a
    polygon literal, wrap each ring's fold with ``per_ring_wrap``
    ('{f}' placeholder), and sum the rings."""
    def rw(a: list[str]) -> str:
        if len(a) != 1:
            raise ChTranslationError(f"{name} takes exactly 1 polygon")
        rings = _pip_parse_polygon(a[0])
        if rings is None:
            raise ChTranslationError(
                f"{name} needs a polygon LITERAL — [[(x1, y1), …][, hole"
                " ring, …]]; the ring layout of an arbitrary expression"
                " is invisible at SQL-text level")
        parts = []
        for ring in rings:
            vs, vs2 = _pip_ring_arrays(ring)
            fold = (f"aggregate(zip_with({vs}, {vs2}, (__p1, __p2) -> "
                    f"{edge_expr}), CAST(0 AS DOUBLE), "
                    f"(__pa, __pv) -> __pa + __pv)")
            parts.append(per_ring_wrap.format(f=fold))
        return "(" + " + ".join(parts) + ")"
    return rw


def _convex_hull_fold(a: list[str]) -> str:
    """``polygonConvexHullCartesian(polygon)`` → the hull POLYGON as a
    constant (r11, previously refused).  The hull of a literal is a
    literal, so the computation folds at translate time — Andrew's
    monotone chain emitting exactly boost::geometry::graham_andrew's
    output convention, which CH inherits (Functions/polygonConvexHull.cpp
    instantiates boost::geometry::convex_hull over CartesianPolygon):

    * vertex order CLOCKWISE — boost's default polygon orientation;
      graham_andrew's ``result(..., Clockwise=true)`` emits the upper
      hull left→right then the lower hull right→left;
    * ring CLOSED (first vertex repeated) — boost's default closure,
      and CH's polygon serializer emits ring points verbatim (the same
      reason polygonsUnionCartesian docs examples show closed rings);
    * start vertex = the LEXICOGRAPHICALLY SMALLEST point (min x, then
      min y) — graham_andrew's ``get_extremes`` least point leads the
      upper hull;
    * strictly convex vertices only — graham_andrew keeps strict-side
      turns, dropping collinear points.

    All rings' points (outer + holes) feed the hull, matching boost's
    range adaptation of a full polygon.  Input must be a polygon
    LITERAL or readWKT{Ring,Polygon}('…') of a literal (the same
    visibility gate as pointInPolygon); degenerate hulls (< 3 distinct
    non-collinear points) refuse — boost's output for degenerate
    geometry is not pinned."""
    if len(a) != 1:
        raise ChTranslationError(
            "polygonConvexHullCartesian takes exactly 1 polygon")
    rings = _pip_wkt_literal_rings(a[0])
    if rings is None:
        parsed = _pip_parse_polygon(a[0])
        if parsed is None:
            raise ChTranslationError(
                "polygonConvexHullCartesian needs a polygon LITERAL"
                " ([[(x1, y1), …][, holes…]]) or a readWKTPolygon('…')"
                " literal — the point layout of an arbitrary expression"
                " is invisible at SQL-text level")
        rings = []
        for ring in parsed:
            pts = []
            for xt, yt in ring:
                try:
                    pts.append((float(xt), float(yt)))
                except ValueError:
                    raise ChTranslationError(
                        "polygonConvexHullCartesian vertices must be"
                        " numeric literals (the hull folds at translate"
                        f" time): {xt!r}, {yt!r}") from None
            rings.append(pts)
    pts = sorted({p for ring in rings for p in ring})
    if len(pts) < 3:
        raise ChTranslationError(
            "polygonConvexHullCartesian: fewer than 3 distinct points —"
            " boost's degenerate-hull output is not pinned")

    def cross(o, q, r):
        return ((q[0] - o[0]) * (r[1] - o[1])
                - (q[1] - o[1]) * (r[0] - o[0]))

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ccw = lower[:-1] + upper[:-1]  # counterclockwise, starts at lex-min
    if len(ccw) < 3:
        raise ChTranslationError(
            "polygonConvexHullCartesian: all points collinear —"
            " boost's degenerate-hull output is not pinned")
    ring = [ccw[0]] + ccw[1:][::-1] + [ccw[0]]  # clockwise, closed
    body = ", ".join(
        f"named_struct('_1', CAST({x!r} AS DOUBLE),"
        f" '_2', CAST({y!r} AS DOUBLE))" for x, y in ring)
    return f"array(array({body}))"


def _empty_array_to_single(a: list[str]) -> str:
    """``emptyArrayToSingle(arr)``: empty → [default-of-element-type],
    non-empty → unchanged.  The element default is a TYPE property the
    SQL text usually can't see — translatable for the two visible
    shapes: a typed ``CAST(array() AS ARRAY<T>)`` (what the
    emptyArray<T>() constructors rewrite to) and a non-empty array
    literal (identity).  CH defaults: numerics 0, String '', Date /
    DateTime the epoch."""
    if len(a) != 1:
        raise ChTranslationError("emptyArrayToSingle takes one array")
    t = a[0].strip()
    m = re.match(
        r"^CAST\s*\(\s*array\s*\(\s*\)\s*AS\s+ARRAY<([A-Za-z0-9(),\s]+)>"
        r"\s*\)$", t, re.IGNORECASE)
    if m:
        ty = m.group(1).strip().upper()
        default = {
            "STRING": "''",
            "DATE": "DATE '1970-01-01'",
            "TIMESTAMP": "TIMESTAMP '1970-01-01 00:00:00'",
        }.get(ty, "0")
        return f"array(CAST({default} AS {ty}))"
    if re.match(r"^array\s*\(", t):
        open_idx = t.index("(")
        inner = t[open_idx + 1 : _balanced(t, open_idx) - 1].strip()
        if inner:
            return t  # a non-empty literal is already its own answer
        raise ChTranslationError(
            "emptyArrayToSingle on an UNTYPED empty array literal — the"
            " element default is invisible; use emptyArray<T>()")
    raise ChTranslationError(
        "emptyArrayToSingle pads with the element type's DEFAULT, which"
        " is invisible for arbitrary expressions at SQL-text level — use"
        " IF(empty(a), [x], a) with an explicit default, or pass an"
        " emptyArray<T>() constructor")


def _pip_wkt_literal_rings(text: str):
    """If ``text`` is ``readWKTRing('...')`` or ``readWKTPolygon('...')``
    over a plain string literal, parse the WKT at translate time and
    return the list of rings as (x, y) float lists; else None."""
    # both the CH spelling and the already-rewritten UDF spelling occur
    # here: _rewrite_calls translates arguments before emit, so by the
    # time pointInPolygon sees them, readWKTRing may already be
    # ch_read_wkt_ring
    m = re.match(
        r"^\s*(?:readWKT(Ring|Polygon)|ch_read_wkt_(ring|polygon))"
        r"\s*\(\s*'([^']*)'\s*\)\s*$", text)
    if m is None:
        return None
    kind = (m.group(1) or m.group(2) or "").lower()
    wkt_text = m.group(3)
    from .chudfs import _read_wkt_polygon, _read_wkt_ring

    try:
        if kind == "ring":
            return [[(p["_1"], p["_2"]) for p in _read_wkt_ring(wkt_text)]]
        return [[(p["_1"], p["_2"]) for p in ring]
                for ring in _read_wkt_polygon(wkt_text)]
    except ValueError as e:
        raise ChTranslationError(f"malformed WKT literal: {e}") from e


def _point_in_polygon(a: list[str]) -> str:
    """``pointInPolygon((x, y), ring[, hole...])`` — even-odd
    ray-casting (the textbook PNPOLY crossing test), pure JVM: the
    query point is let-bound once, each ring folds its edge list
    (vertices zip_with their rotation — CH also auto-closes the ring)
    with an XOR accumulator, holes XOR against the outer ring.  Checked
    against the CH docs example pointInPolygon((3., 3.), [(6, 0),
    (8, 4), (5, 8), (0, 2)]) = 1.  Boundary points are unspecified
    (CH's grid strategy has the same fuzzy boundary).  Rings must be
    TUPLE-ARRAY LITERALS: the field layout of an arbitrary array
    expression is invisible at SQL-text level."""
    if len(a) < 2:
        raise ChTranslationError(
            "pointInPolygon takes a point and at least one polygon ring")
    pt = _pip_parse_tuple(a[0])
    if pt is None:
        raise ChTranslationError(
            "pointInPolygon needs a 2-tuple point: (x, y)")
    rings = []
    for ring_text in a[1:]:
        # r10: a readWKTRing/readWKTPolygon call over a LITERAL string
        # is parsed AT TRANSLATE TIME into its vertex literals — the
        # WKT text is fully visible, so the tuple-layout restriction
        # below doesn't apply and WKT geometry composes with the
        # ray-cast directly
        wkt_rings = _pip_wkt_literal_rings(ring_text)
        if wkt_rings is not None:
            for wr in wkt_rings:
                if len(wr) < 3:
                    raise ChTranslationError(
                        "pointInPolygon WKT rings need ≥3 vertices")
                rings.append([(repr(x), repr(y)) for x, y in wr])
            continue
        ring = _pip_parse_ring(ring_text)
        if ring is None or len(ring) < 3:
            raise ChTranslationError(
                "pointInPolygon rings must be literal arrays of ≥3"
                " 2-tuples — [(x1, y1), (x2, y2), ...] — or a"
                " readWKTRing/readWKTPolygon('...') literal")
        rings.append(ring)

    def vstruct(p):
        return (f"named_struct('x', CAST({p[0]} AS DOUBLE),"
                f" 'y', CAST({p[1]} AS DOUBLE))")

    ring_tests = []
    for ring in rings:
        vs = ", ".join(vstruct(p) for p in ring)
        rot = ring[1:] + ring[:1]
        vs2 = ", ".join(vstruct(p) for p in rot)
        ring_tests.append(
            f"aggregate(zip_with(array({vs}), array({vs2}),"
            " (__p1, __p2) ->"
            " ((__p1.y > __pq.y) != (__p2.y > __pq.y))"
            " AND (__pq.x < (__p2.x - __p1.x) * (__pq.y - __p1.y)"
            " / (__p2.y - __p1.y) + __p1.x)),"
            " false, (__acc, __c) -> (__acc != __c))"
        )
    combined = ring_tests[0]
    for rt in ring_tests[1:]:
        combined = f"({combined} != {rt})"
    return (
        f"CAST(element_at(transform(array(named_struct("
        f"'x', CAST({pt[0]} AS DOUBLE), 'y', CAST({pt[1]} AS DOUBLE))),"
        f" __pq -> {combined}), 1) AS INT)"
    )


def _array_split(reverse: bool):
    """CH ``arraySplit(f, arr[, arr2])`` / ``arrayReverseSplit`` — split
    arr into consecutive groups; a truthy flag opens a new group BEFORE
    its element (arraySplit) or closes the group AFTER it
    (arrayReverseSplit).  Checked against the CH docs examples:
    arraySplit((x, y) -> y, [1..5], [1,0,0,1,0]) = [[1,2,3],[4,5]] and
    arrayReverseSplit(...) = [[1],[2,3,4],[5]].  Pure JVM: flags via
    transform/zip_with, start indices via a filtered sequence (get() is
    0-based and NULL out of bounds — ANSI-safe), groups via zip_with of
    consecutive starts; empty input → [] like CH."""
    name = "arrayReverseSplit" if reverse else "arraySplit"

    def rw(a: list[str]) -> str:
        if len(a) not in (2, 3):
            raise ChTranslationError(
                f"{name}(lambda, arr[, arr2]) takes a lambda and 1-2"
                " arrays")
        flags = (f"transform({a[1]}, {a[0]})" if len(a) == 2
                 else f"zip_with({a[1]}, {a[2]}, {a[0]})")
        # arraySplit: group starts where element i's own flag is set;
        # arrayReverseSplit: where the PREVIOUS element's flag is set
        off = 2 if reverse else 1
        starts = (
            f"filter(sequence(1, greatest(size(__b1.a), 1)),"
            f" __i -> __i = 1"
            f" OR CAST(get(__b1.f, __i - {off}) AS BOOLEAN))"
        )
        inner = (
            f"element_at(transform(array(named_struct('a', __b1.a,"
            f" 's', {starts})), __b2 ->"
            f" zip_with(__b2.s,"
            f" concat(slice(__b2.s, 2, size(__b2.s)),"
            f" array(size(__b2.a) + 1)),"
            f" (__st, __en) -> slice(__b2.a, __st, __en - __st))), 1)"
        )
        return (
            f"element_at(transform(array(named_struct('a', {a[1]},"
            f" 'f', {flags})), __b1 ->"
            f" IF(size(__b1.a) = 0, slice(array(__b1.a), 1, 0),"
            f" {inner})), 1)"
        )

    return rw


def _min_sample_size(kind: str):
    """``minSampleSizeConversion(baseline, mde, power, alpha)`` /
    ``minSampleSizeContinous(baseline, sigma, mde, power, alpha)`` —
    closed-form A/B power analysis returning the CH tuple
    (minimum_sample_size, detect_range_lower, detect_range_upper).

    Continuous (two-sample means, equal allocation, per-group n):
    n = 2·(z₁₋α/₂ + z_power)²·σ² / (mde·baseline)², range =
    baseline·(1±mde) — VERIFIED against the CH docs example
    minSampleSizeContinous(112.25, 21.1, 0.03, 0.80, 0.05) =
    (616.2931945826209, 108.8825, 115.6175) (pinned in pytest).

    Conversion (two-sample proportions, unpooled, per-group n):
    n = (z₁₋α/₂ + z_power)²·(p₁q₁ + p₂q₂) / mde² with p₂ = p₁ + mde,
    range = baseline ± mde — the standard unpooled two-proportion
    formula (Fleiss), structurally the same statistic as the verified
    continuous sibling (2σ² → σ₁² + σ₂²).

    power/alpha must be numeric literals: the normal quantiles are
    computed at TRANSLATE time (stdlib statistics.NormalDist.inv_cdf,
    Wichura AS241 — Φ⁻¹(0.975) = 1.959963984540054 matches the
    published constant) and embedded as double literals; everything
    else stays JVM-side arithmetic, let-bound once via the
    transform-array binding (no CSE inside lambdas)."""
    def rw(a: list[str]) -> str:
        from statistics import NormalDist

        nargs = 4 if kind == "conversion" else 5
        name = ("minSampleSizeConversion" if kind == "conversion"
                else "minSampleSizeContinous")
        if len(a) != nargs:
            raise ChTranslationError(f"{name} takes {nargs} arguments")
        power_s, alpha_s = a[-2].strip(), a[-1].strip()
        for p, which in ((power_s, "power"), (alpha_s, "alpha")):
            if not re.fullmatch(r"0?\.\d+|1(\.0*)?|0(\.0*)?", p):
                raise ChTranslationError(
                    f"{name} requires a numeric literal {which} in [0, 1]"
                    " — the normal quantile is computed at translate time")
        power, alpha = float(power_s), float(alpha_s)
        if not (0 < alpha < 1 and 0 < power < 1):
            raise ChTranslationError(
                f"{name}: power and alpha must be strictly inside (0, 1)")
        nd = NormalDist()
        zsq = (nd.inv_cdf(1 - alpha / 2) + nd.inv_cdf(power)) ** 2
        if kind == "conversion":
            bind = (f"named_struct('b', CAST({a[0]} AS DOUBLE),"
                    f" 'm', CAST({a[1]} AS DOUBLE))")
            body = (
                f"named_struct("
                f"'_1', {zsq!r}D * (x.b * (1.0D - x.b)"
                f" + (x.b + x.m) * (1.0D - x.b - x.m))"
                f" / (x.m * x.m),"
                f" '_2', x.b - x.m, '_3', x.b + x.m)"
            )
        else:
            bind = (f"named_struct('b', CAST({a[0]} AS DOUBLE),"
                    f" 's', CAST({a[1]} AS DOUBLE),"
                    f" 'm', CAST({a[2]} AS DOUBLE))")
            body = (
                f"named_struct("
                f"'_1', 2.0D * {zsq!r}D * x.s * x.s"
                f" / ((x.m * x.b) * (x.m * x.b)),"
                f" '_2', x.b * (1.0D - x.m), '_3', x.b * (1.0D + x.m))"
            )
        return f"element_at(transform(array({bind}), x -> {body}), 1)"

    return rw


_Rule = tuple[tuple[str, ...], Callable[[str], str]]


def _build_rules() -> list[_Rule]:
    """The function-translation rules, in application order: each is
    ``(names, apply)`` — ``apply(sql) -> sql`` runs when one of ``names``
    is a call site of the text (see ``_translate_functions``)."""
    rules: list[_Rule] = []

    def _call(name: str, emit, raw: bool = False) -> None:
        """A ``_rewrite_calls`` rule (a ``str`` emit is a rename)."""
        rules.append(((name,), lambda sql: _rewrite_calls(sql, name, emit,
                                                          raw)))

    def _on(names: str, fn: Callable[[str], str]) -> None:
        """A whole-string pass gated on the space-separated ``names``."""
        rules.append((tuple(names.split()), fn))

    def _pass(fn, name: str, *args, **kwargs) -> None:
        """A pass ``fn(sql, name, *args, **kwargs)`` gated on ``name``."""
        _on(name, lambda sql: fn(sql, name, *args, **kwargs))

    # byte-hash family FIRST, on RAW argument text: the integer-width
    # detection reads the to[U]Int64()/to[U]Int32() wrapper spelling
    # before the cast pass collapses widths, and the string gate reads
    # raw CH function names
    _call(
        "sipHash64",
        _byte_hash_fn("sipHash64", "ch_siphash64", "ch_siphash64_u64",
                      r"^to(U)?Int64\s*\("),
        raw=True,
    )
    _call(
        "xxHash64",
        _byte_hash_fn("xxHash64", "ch_xxhash64_ch", "ch_xxhash64_u64",
                      r"^to(U)?Int64\s*\("),
        raw=True,
    )
    _call(
        "xxHash32",
        _byte_hash_fn("xxHash32", "ch_xxhash32_ch", "ch_xxhash32_u32",
                      r"^to(U)?Int32\s*\("),
        raw=True,
    )
    # xxh3 = XXH3_64bits seed 0 (r9: former refusal; the algorithm AND
    # the embedded default secret are both proven against the system
    # libxxhash — zero recall surface, see chudfs XXH3 section)
    _call(
        "xxh3",
        _byte_hash_fn("xxh3", "ch_xxh3_ch", "ch_xxh3_u64",
                      r"^to(U)?Int64\s*\("),
        raw=True,
    )
    # `expr::ChType` cast operator: Spark supports :: natively — only
    # the CH type NAME needs mapping (unknown names pass through for
    # Spark's own types like ::INT); literal-aware so a string datum
    # containing '::Int64' is never rewritten
    def _colon_cast_pass(sql: str) -> str:
        return _COLON_CAST_RE.sub(
            lambda m: m.group(0) if _in_string(sql, m.start())
            else "::" + _COLON_TYPES.get(m.group(1), m.group(1)),
            sql,
        )

    _on("::", _colon_cast_pass)
    # CRC family (case-insensitive in CH; common spellings covered).
    # Plain CRC32 deliberately passes through: Spark's builtin crc32 IS
    # the zlib variant CH's CRC32 uses.  CRC32IEEE/CRC64 are the init-0
    # no-final-xor variants (src/Functions/CRC.cpp CRCImpl) — the old
    # crc32IEEE → crc32 rename silently produced zlib values and is gone.
    for _sp, _udf, _cn in (
        ("CRC32IEEE", "ch_crc32_ieee", "CRC32IEEE"),
        ("crc32IEEE", "ch_crc32_ieee", "CRC32IEEE"),
        ("crc32ieee", "ch_crc32_ieee", "CRC32IEEE"),
        ("CRC64", "ch_crc64", "CRC64"),
        ("crc64", "ch_crc64", "CRC64"),
    ):
        _call(_sp, _crc_fn(_cn, _udf), raw=True)
    # r8 hash-family completion (verification basis in chudfs.py):
    # cityHash64 is CH's default Distributed sharding expression,
    # intHash32 the canonical SAMPLE BY hash.  Same typed-argument gate
    # as the sipHash64 trio; the 128-bit-output forms are string-only
    # (no integer width to pin), so _NO_INT sends ints to the refusal.
    _NO_INT = r"(?!)"
    _call(
        "cityHash64",
        _byte_hash_fn("cityHash64", "ch_cityhash64_ch", "ch_cityhash64_u64",
                      r"^to(U)?Int64\s*\("),
        raw=True,
    )
    # wyHash64 (r11, previously refused): wyhash final version 3 with
    # seed 0 — the revision CH's contrib pins, settled EMPIRICALLY in
    # tests/test_chhashes.py (CH docs vector 'ClickHouse' →
    # 12336419557878201794 plus all seven published f3 vectors across
    # every length branch; final v4 matches neither).  String-only —
    # CH's own signature is wyHash64(string).
    _call(
        "wyHash64",
        _byte_hash_fn("wyHash64", "ch_wyhash64", "ch_wyhash64", _NO_INT),
        raw=True,
    )
    _call(
        "murmurHash2_32",
        _byte_hash_fn("murmurHash2_32", "ch_murmur2_32_ch",
                      "ch_murmur2_32_u32", r"^to(U)?Int32\s*\("),
        raw=True,
    )
    _call(
        "murmurHash2_64",
        _byte_hash_fn("murmurHash2_64", "ch_murmur2_64_ch",
                      "ch_murmur2_64_u64", r"^to(U)?Int64\s*\("),
        raw=True,
    )
    _call(
        "murmurHash3_32",
        _byte_hash_fn("murmurHash3_32", "ch_murmur3_32_ch",
                      "ch_murmur3_32_u32", r"^to(U)?Int32\s*\("),
        raw=True,
    )
    _call(
        "murmurHash3_64",
        _byte_hash_fn("murmurHash3_64", "ch_murmur3_64_ch",
                      "ch_murmur3_64_u64", r"^to(U)?Int64\s*\("),
        raw=True,
    )
    _call(
        "murmurHash3_128",
        _byte_hash_fn("murmurHash3_128", "ch_murmur3_128_ch",
                      "ch_murmur3_128_ch", _NO_INT),
        raw=True,
    )
    # keyed SipHash family + the OFFICIAL 128-bit form (r9; libsodium
    # crypto_shorthash / crypto_shorthash_siphashx24 bit-equality proofs
    # in tests/test_chhashes.py).  Longer names rewrite first so the
    # word-boundary scanner never sees a prefix of an unprocessed call.
    _call(
        "sipHash128ReferenceKeyed",
        _keyed_sip_fn("sipHash128ReferenceKeyed", "ch_siphash128_ref_keyed",
                      "ch_siphash128_ref_keyed", _NO_INT),
        raw=True,
    )
    _call(
        "sipHash128Reference",
        _byte_hash_fn("sipHash128Reference", "ch_siphash128_ref",
                      "ch_siphash128_ref", _NO_INT),
        raw=True,
    )
    _call(
        "sipHash128Keyed",
        _keyed_sip_fn("sipHash128Keyed", "ch_siphash128_keyed",
                      "ch_siphash128_keyed", _NO_INT),
        raw=True,
    )
    _call(
        "sipHash64Keyed",
        _keyed_sip_fn("sipHash64Keyed", "ch_siphash64_keyed",
                      "ch_siphash64_keyed_u64", r"^to(U)?Int64\s*\("),
        raw=True,
    )
    _call(
        "sipHash128",
        _byte_hash_fn("sipHash128", "ch_siphash128_ch",
                      "ch_siphash128_ch", _NO_INT),
        raw=True,
    )
    _call("intHash32", _int_hash_fn("intHash32", "ch_inthash32"), raw=True)
    _call("intHash64", _int_hash_fn("intHash64", "ch_inthash64"), raw=True)
    # farmFingerprint64 = farmhash's PORTABLE Fingerprint64, Guava-proven
    # (farmHash64 stays refused: per-CPU build dispatch)
    _call(
        "farmFingerprint64",
        _byte_hash_fn("farmFingerprint64", "ch_farm_fingerprint64_ch",
                      "ch_farm_fingerprint64_u64", r"^to(U)?Int64\s*\("),
        raw=True,
    )
    # javaHash/hiveHash: JLS String.hashCode (SIGNED Int32 like CH);
    # string-typed arguments only — CH's integer forms hash Java
    # primitive widths the SQL text can't see
    for _jn, _judf in (("javaHash", "ch_java_hash"),
                       ("hiveHash", "ch_hive_hash")):
        _call(
            _jn,
            lambda a, n=_jn, u=_judf: (
                f"{u}({a[0].strip()})" if len(a) == 1
                and _stringish(a[0].strip())
                else _refuse(
                    f"{n} translates for string-typed arguments only"
                    " (the integer forms hash Java primitive widths,"
                    " invisible at SQL-text level)")),
            raw=True,
        )
    # ngramDistance/ngramSearch family (r9): exact 4-gram multiset
    # measures — mode literal picks byte/codepoint units and case fold
    for _nd, _udf in (("ngramDistance", "ch_ngram_distance"),
                      ("ngramSearch", "ch_ngram_search")):
        for _suffix, _mode in (("CaseInsensitiveUTF8", 3), ("UTF8", 2),
                               ("CaseInsensitive", 1), ("", 0)):
            _call(
                _nd + _suffix,
                lambda a, u=_udf, m=_mode, n=_nd + _suffix: (
                    f"{u}({a[0]}, {a[1]}, {m})" if len(a) == 2
                    else _refuse(f"{n} takes exactly 2 string arguments")),
            )
    # jumpConsistentHash(key, n): Lamping-Veach published algorithm
    _call(
        "jumpConsistentHash",
        lambda a: (
            f"ch_jump_consistent_hash(CAST({a[0]} AS BIGINT),"
            f" CAST({a[1]} AS INT))"
            if len(a) == 2 and not _stringish(a[0].strip())
            else _refuse(
                "jumpConsistentHash takes (integer key, bucket count)")),
        raw=True,
    )
    # byteSwap / bitRotateLeft/Right: the result wraps at the argument's
    # DECLARED width — an explicit to[U]IntN wrapper supplies it
    _call(
        "byteSwap",
        _width_gated_fn(
            "byteSwap", 1,
            lambda a, w: _recentre_signed(
                f"ch_byteswap({a[0]}, {w})", a[0], w)),
        raw=True,
    )
    # sumWithOverflow: CH keeps the ARGUMENT type and lets it wrap;
    # Spark's ANSI sum raises instead — exact wrapping via a DECIMAL(38)
    # sum reduced mod 2^bits (the true sum of <10^19 rows of a w-byte
    # type always fits 38 digits).  Width from the to[U]IntN gate;
    # unsigned renders as DECIMAL(20,0), signed re-centers to BIGINT.
    # COALESCE 0: CH's sum over zero rows is 0, Spark's is NULL.
    def _sum_overflow(a, w):
        bits = 8 * w
        m = re.match(_WIDTH_RE, a[0])
        unsigned = bool(m.group(1))
        body = f"sum(CAST({a[0]} AS DECIMAL(38, 0)))"
        if unsigned:
            return (f"CAST(COALESCE(pmod({body}, {1 << bits}), 0)"
                    f" AS DECIMAL(20, 0))")
        half = 1 << (bits - 1)
        return (f"CAST(COALESCE(pmod({body} + {half}, {1 << bits})"
                f" - {half}, 0) AS BIGINT)")
    _call(
        "sumWithOverflow",
        _width_gated_fn("sumWithOverflow", 1, _sum_overflow),
        raw=True,
    )
    # sumMapWithOverflow (r10, previously refused): the sumMap fold
    # composed with the modular width-wrap above.  RAW args (like
    # sumWithOverflow) — the recursive arg translation would erase the
    # to[U]IntN width spellings the gate reads; later passes translate
    # the embedded spellings in the emitted fold.
    # sumMapFilteredWithOverflow([keys])(k, v) (r11, previously refused
    # "pending a width-visible use case" — the width gate below IS that
    # case): the sumMapFiltered per-row map_filter composed into the
    # modular fold.  RAW inner args for the same reason as the unfiltered
    # form; the keep list translates normally.
    def _sum_map_filtered_with_overflow_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "sumMapFilteredWithOverflow")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError(
                    "sumMapFilteredWithOverflow requires the"
                    " (keys_to_keep)(keys, values) combinator form")
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            keep = _translate_functions(sql[open1 + 1 : end1 - 1]).strip()
            inner = _split_args(sql[open2 + 1 : end2 - 1])
            sql = (sql[:at] + _sum_map_overflow(inner, keep=keep)
                   + sql[end2:])
        return sql

    _on("sumMapFilteredWithOverflow", _sum_map_filtered_with_overflow_pass)
    _call("sumMapWithOverflow", _sum_map_overflow, raw=True)
    # geohash — Niemeyer's published scheme; decode returns the CELL
    # CENTER (longitude, latitude) like CH
    _call(
        "geohashEncode",
        lambda a: (
            f"ch_geohash_encode(CAST({a[0]} AS DOUBLE),"
            f" CAST({a[1]} AS DOUBLE), {a[2] if len(a) > 2 else 12})"
            if len(a) in (2, 3)
            else _refuse("geohashEncode(longitude, latitude[, precision])")),
    )
    _call("geohashDecode", lambda a: f"ch_geohash_decode({a[0]})")
    # OGC WKT parsers (r10, previously refused): boost::geometry
    # conventions CH inherits — Point tuple, Ring from the POLYGON
    # spelling, Polygon = outer ring + holes, MultiPolygon nesting.
    # Geometry travels as nested tuple arrays (tupleElement works);
    # the render direction (wkt/svg) stays refused — float text
    # formatting has no local pin.
    for _wn, _wu in (("readWKTPoint", "ch_read_wkt_point"),
                     ("readWKTRing", "ch_read_wkt_ring"),
                     ("readWKTPolygon", "ch_read_wkt_polygon"),
                     ("readWKTMultiPolygon", "ch_read_wkt_multipolygon")):
        _call(
            _wn,
            lambda a, u=_wu, n=_wn: (
                f"{u}({a[0]})" if len(a) == 1
                else _refuse(f"{n} takes one WKT string")),
        )
    _call(
        "geohashesInBox",
        lambda a: (
            f"ch_geohashes_in_box(CAST({a[0]} AS DOUBLE),"
            f" CAST({a[1]} AS DOUBLE), CAST({a[2]} AS DOUBLE),"
            f" CAST({a[3]} AS DOUBLE), {a[4]})"
            if len(a) == 5
            else _refuse(
                "geohashesInBox(longitude_min, latitude_min,"
                " longitude_max, latitude_max, precision)")),
    )
    _call(
        "bitRotateLeft",
        _width_gated_fn(
            "bitRotateLeft", 2,
            lambda a, w: _recentre_signed(
                f"ch_bit_rotate_left(CAST({a[0]} AS BIGINT),"
                f" CAST({a[1]} AS BIGINT), {w})", a[0], w)),
        raw=True,
    )
    _call(
        "bitRotateRight",
        _width_gated_fn(
            "bitRotateRight", 2,
            lambda a, w: _recentre_signed(
                f"ch_bit_rotate_right(CAST({a[0]} AS BIGINT),"
                f" CAST({a[1]} AS BIGINT), {w})", a[0], w)),
        raw=True,
    )
    # CH hex() pads integers to EVEN width (hex(1) = '01' — whole bytes,
    # leading zero-bytes trimmed); Spark's hex(1) = '1'.  The even-pad
    # wrap is a no-op for string/binary inputs (always even), so it is
    # safe without knowing the argument type.
    # CH lower()/upper() fold ASCII ONLY (lowerUTF8/upperUTF8 are the
    # Unicode forms); Spark's builtins are full-Unicode — translate()
    # over the two alphabets reproduces CH exactly and stays JVM-side.
    # Emitted via translate(), which no pass scans, so re-traversal-safe.
    _AZ = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    _az = "abcdefghijklmnopqrstuvwxyz"
    for nm_l in ("lower", "lcase"):
        _call(nm_l, lambda a: f"translate({a[0]}, '{_AZ}', '{_az}')")
    for nm_u in ("upper", "ucase"):
        _call(nm_u, lambda a: f"translate({a[0]}, '{_az}', '{_AZ}')")
    # CH char(n, ...) builds a string from raw BYTES (each argument cast
    # to UInt8 — char(228,189,160) is the UTF-8 of 你); Spark's char(n)
    # is a single Unicode CODEPOINT, so ≥128 silently diverges and
    # multi-arg fails.  Byte-faithful via hex assembly → unhex → string.
    _call(
        "char",
        lambda a: (
            "CAST(unhex(concat("
            + ", ".join(
                f"lpad(HEX(pmod(CAST(({x}) AS INT), 256)), 2, '0')"
                for x in a
            )
            + ")) AS STRING)"
            if a and a != [""]
            else _refuse("char needs at least 1 argument")
        ),
    )
    # CH bin() pads integers to whole BYTES (bin(1) = '00000001');
    # Spark's bin(1) = '1'.  Emitted as BIN( for the same
    # never-re-match-own-output reason as hex below.
    _call(
        "bin",
        lambda a: (
            "element_at(transform(array(BIN(" + a[0] + ")), __b ->"
            " lpad(__b, CAST(ceil(length(__b) / 8.0) * 8 AS INT), '0')), 1)"
            if len(a) == 1
            else _refuse("bin takes exactly 1 argument")
        ),
    )
    # unbin (r9): inverse of bin — byte-faithful via the Arrow UDF +
    # CAST(binary AS STRING) raw-byte copy (the char() pattern); CH's
    # implementation-defined non-[01] result maps to NULL (chudfs note)
    _call(
        "unbin",
        lambda a: (
            f"CAST(ch_unbin({a[0]}) AS STRING)"
            if len(a) == 1
            else _refuse("unbin takes exactly 1 argument")
        ),
    )
    # emitted as HEX( — the case-sensitive scanner must never re-match
    # its own output on argument re-traversal (Spark is case-insensitive)
    _call(
        "hex",
        lambda a: (
            "element_at(transform(array(HEX(" + a[0] + ")), __h ->"
            " IF(pmod(length(__h), 2) = 1, concat('0', __h), __h)), 1)"
            if len(a) == 1
            else _refuse("hex takes exactly 1 argument")
        ),
    )
    # cryptographic digests: CH returns RAW BYTES (FixedString) where
    # Spark's builtins return hex STRINGS — unhex() restores CH semantics
    # so the idiomatic hex(MD5(s)) doesn't silently double-hex
    _call("MD5", lambda a: f"unhex(md5({a[0]}))")
    _call("SHA1", lambda a: f"unhex(sha1({a[0]}))")
    for bits in (224, 256, 384, 512):
        _call(f"SHA{bits}", lambda a, b=bits: f"unhex(sha2({a[0]}, {b}))")
    _call(
        "halfMD5",
        _byte_hash_fn("halfMD5", "ch_halfmd5", "ch_halfmd5_u64",
                      r"^to(U)?Int64\s*\("),
        raw=True,
    )
    # CH length() is BYTE length on strings (lengthUTF8 counts chars) and
    # element count on arrays; Spark's length() counts chars.  Runs EARLY
    # so only user-written length() is rewritten — later rewrites that
    # EMIT length(...) mean Spark char semantics and stay untouched.
    _call(
        "length",
        lambda a: _len_expr(a[0], str_fn="octet_length")
        if len(a) == 1
        else _refuse("length with more than one argument"),
    )
    _call("welchTTest", _ttest_fn("welchTTest"))
    _call("studentTTest", _ttest_fn("studentTTest"))
    _on("mannWhitneyUTest", _mann_whitney_pass)
    _on("kolmogorovSmirnovTest", _ks_test_pass)
    # largestTriangleThreeBuckets/lttb (r10, previously refused):
    # Steinarsson 2013's published reference bucket rule (floor
    # boundaries, next-bucket mean, strict > so the earliest maximal
    # candidate wins), sorted by (x, y) for deterministic ties — one
    # collect_list fold per group (grouped-stats contract)
    for _ln in ("largestTriangleThreeBuckets", "lttb"):
        _pass(_rewrite_parametric,
            _ln,
            lambda p, a, n=_ln: (
                f"ch_lttb(collect_list(CASE WHEN ({a[0]}) IS NOT NULL"
                f" AND ({a[1]}) IS NOT NULL THEN named_struct("
                f"'x', CAST({a[0]} AS DOUBLE),"
                f" 'y', CAST({a[1]} AS DOUBLE)) END), {p})"
                if len(a) == 2 and re.fullmatch(r"\d+", p.strip())
                else _refuse(
                    f"{n}(n_buckets)(x, y) with a literal integer"
                    " bucket count")),
        )
    _pass(_rewrite_parametric, "meanZTest", _mean_z_test)
    # analysisOfVariance(value, group): one-way ANOVA — moments + exact
    # incomplete-beta p in ONE Arrow UDF over the group's pair array
    # (the mannWhitneyUTest contract; F(1,n) = t(n)^2 cross-checked in
    # tests against the t-table-pinned Student CDF)
    for _anova_name in ("analysisOfVariance", "anova"):
        _call(
            _anova_name,
            lambda a, n=_anova_name: (
                f"ch_anova(collect_list(CASE WHEN ({a[0]}) IS NOT NULL"
                f" AND ({a[1]}) IS NOT NULL THEN named_struct("
                f"'v', CAST({a[0]} AS DOUBLE),"
                f" 'g', CAST({a[1]} AS BIGINT)) END))"
                if len(a) == 2
                else _refuse(f"{n}(value, group_index) takes 2 arguments")),
        )
    # groupArraySorted(N)(x): the N smallest values, ascending — exact
    _pass(_rewrite_parametric,
        "groupArraySorted",
        lambda p_, a: (
            f"slice(sort_array(collect_list({a[0]})), 1, {int(p_)})"
            if len(a) == 1 and re.fullmatch(r"\d+", p_.strip())
            else _refuse(
                "groupArraySorted(N)(x) takes a literal N and one"
                " argument")),
    )
    _call("proportionsZTest", _proportions_z_test)
    _call("rankCorr", _rank_corr)
    # BiasCorrected first: its name contains the plain cramersV prefix
    _call("cramersVBiasCorrected", _assoc_fn("cramersVBiasCorrected"))
    _call("cramersV", _assoc_fn("cramersV"))
    _call("contingency", _assoc_fn("contingency"))
    _call("theilsU", _assoc_fn("theilsU"))
    _call("pointInPolygon", _point_in_polygon)
    # polygonAreaCartesian: signed shoelace per ring, negated to the
    # boost::geometry clockwise-positive orientation CH inherits (the CH
    # docs example [[(0,0),(0,5),(5,5)]] = 12.5 fixes the sign; holes
    # are spelled counterclockwise and subtract naturally).  Perimeter:
    # Euclidean edge lengths incl. the auto-closing edge.  Both need
    # polygon LITERALS like pointInPolygon.  r9 refusal closures.
    _call(
        "polygonAreaCartesian",
        _polygon_fold_fn(
            "polygonAreaCartesian",
            "__p1.x * __p2.y - __p2.x * __p1.y",
            "(-({f}) / 2)",
        ),
    )
    _call("polygonConvexHullCartesian", _convex_hull_fold)
    _call(
        "polygonPerimeterCartesian",
        _polygon_fold_fn(
            "polygonPerimeterCartesian",
            "sqrt(power(__p2.x - __p1.x, 2) + power(__p2.y - __p1.y, 2))",
            "({f})",
        ),
    )
    # toFixedString(s, N): NUL-pad to N BYTES, throw when longer — the
    # CH contract (chr(0) pads one byte per char, so multibyte UTF-8
    # still pads to the correct BYTE width); N must be a literal (CH
    # requires a constant there too)
    def _to_fixed_string(a):
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            raise ChTranslationError(
                "toFixedString(s, N) takes a string and a literal"
                " byte width")
        n = a[1].strip()
        return (
            f"element_at(transform(array(CAST({a[0]} AS STRING)),"
            f" __fx -> CASE WHEN octet_length(__fx) > {n}"
            f" THEN CAST(raise_error(concat('toFixedString: value"
            f" longer than {n} bytes: ', __fx)) AS STRING)"
            f" ELSE concat(__fx, repeat(chr(0),"
            f" {n} - octet_length(__fx))) END), 1)"
        )
    _call("toFixedString", _to_fixed_string)
    # countDigits: decimal digits of the argument's UNDERLYING integer
    # (Decimal counts value*10^scale), sign and point stripped, leading
    # zeros dropped, floor 1 (countDigits(0) = 1).  Integer/Decimal
    # arguments only — CH errors on floats; a float here would count
    # the characters of Spark's E-notation rendering instead.
    _call(
        "countDigits",
        lambda a: (
            f"GREATEST(length(regexp_replace(translate("
            f"CAST({a[0]} AS STRING), '-.', ''), '^0+', '')), 1)"
            if len(a) == 1 else _refuse("countDigits takes 1 argument")),
    )
    # bitSlice: 1-based BIT slicing; returns BINARY (CH's String return
    # can carry arbitrary bytes, which Spark strings cannot)
    _call(
        "bitSlice",
        lambda a: (
            f"ch_bit_slice(CAST({a[0]} AS BINARY), CAST({a[1]} AS INT),"
            f" {f'CAST({a[2]} AS INT)' if len(a) == 3 else 'NULL'})"
            if len(a) in (2, 3)
            else _refuse("bitSlice(s, offset[, length])")),
    )
    # arrayZipUnaligned: zip padding the SHORTER side with NULLs — which
    # is exactly Spark zip_with's native behavior (arrayZip, by
    # contrast, throws on unequal lengths in CH and stays a rename)
    _call(
        "arrayZipUnaligned",
        lambda a: (
            f"zip_with({a[0]}, {a[1]},"
            f" (__zu_x, __zu_y) -> named_struct('_1', __zu_x,"
            f" '_2', __zu_y))" if len(a) == 2
            else _refuse("arrayZipUnaligned translates for 2 arrays")),
    )
    # mapSort/mapReverseSort (plain forms): Spark maps DO carry a
    # defined entry order (map_entries exposes it, map_from_entries
    # preserves it) — the old refusal was wrong.  sort_array over the
    # entry structs orders by key first, exactly CH's key sort.  The
    # lambda forms refuse: CH sorts by an arbitrary (k, v) function,
    # and sort_array has no comparator.
    for _ms, _rev in (("mapSort", "false"), ("mapReverseSort", "true")):
        _call(
            _ms,
            lambda a, rev=_rev, n=_ms: (
                f"map_from_entries(sort_array(map_entries({a[0]}),"
                f" {'false' if rev == 'true' else 'true'}))"
                if len(a) == 1
                else _refuse(
                    f"{n} translates for the plain 1-map form — the"
                    " comparator-lambda form has no Spark sort_array"
                    " comparator")),
        )
    # arrayAUC: tie-averaged rank-sum AUC (the trapezoid-on-tie-groups
    # rule CH computes; pinned to the CH docs example in pytest)
    _call(
        "arrayAUC",
        lambda a: (
            f"ch_array_auc({a[0]}, {a[1]})" if len(a) == 2
            else _refuse(
                "arrayAUC(scores, labels) — the optional 3rd 'scale'"
                " argument is CH-version-sensitive and stays refused")),
    )
    # arrayNormalizedGini: the published normalized Gini (labels sorted
    # by prediction desc, cumulative-share sum); CH docs example
    # (13/72, 19/72, 13/19) re-derives EXACTLY from the published
    # formula — chudfs note.  One UDF call, let-bound to the CH tuple
    # shape via the single-element transform idiom.
    _call(
        "arrayNormalizedGini",
        lambda a: (
            "element_at(transform(array("
            f"ch_array_normalized_gini({a[0]}, {a[1]})), __gn ->"
            " named_struct('_1', __gn[0], '_2', __gn[1], '_3', __gn[2])"
            "), 1)" if len(a) == 2
            else _refuse("arrayNormalizedGini takes (predicted, label)")),
    )
    _call("minSampleSizeConversion", _min_sample_size("conversion"))
    _call("minSampleSizeContinous", _min_sample_size("continous"))
    # CH documents the correctly-spelled alias of its (sic) Continous name
    _call("minSampleSizeContinuous", _min_sample_size("continous"))
    _on("windowFunnel", _rewrite_window_funnel)
    _pass(_rewrite_sequence,
        "sequenceMatch",
        lambda seq, rx: f"CAST({seq} RLIKE '{rx}' AS INT)",
    )
    _pass(_rewrite_sequence,
        "sequenceCount",
        lambda seq, rx: f"CAST(regexp_count({seq}, '{rx}') AS INT)",
    )
    _call("retention", _retention)
    # --- generic aggregate combinators: expand STRUCTURALLY first, so the
    # emitted base call is translated by its own rule further down ---
    for base in _COMBINATOR_BASES:
        if base in ("count", "avgWeighted", "kurtPop"):
            # countIf(cond) is 1-arg with its own rule; avgWeighted and
            # kurtPop translate to COMPOSITE expressions (try_divide /
            # kurtosis+3) that cannot take a trailing FILTER — dedicated
            # rules below push the FILTER onto the inner aggregates
            continue
        _call(
            f"{base}If",
            lambda a, b=base: (
                f"{b}({', '.join(a[:-1])}) FILTER (WHERE {a[-1]})"
                if len(a) >= 2
                else _refuse(f"{b}If without a condition argument")
            ),
        )
    _call(
        "avgWeightedIf",
        lambda a: (
            f"try_divide(sum(({a[0]}) * ({a[1]})) FILTER (WHERE {a[2]}), "
            f"sum({a[1]}) FILTER (WHERE {a[2]}))"
        ),
    )
    _call(
        "kurtPopIf",
        lambda a: f"(kurtosis({a[0]}) FILTER (WHERE {a[1]}) + 3)",
    )
    for base in _ORNULL_IDENTITY:
        _call(f"{base}OrNull", lambda a, b=base: f"{b}({', '.join(a)})")
    for base in _ORNULL_COUNTING:
        _call(
            f"{base}OrNull",
            lambda a, b=base: f"nullif({b}({', '.join(a)}), 0)",
        )
    for base in ("groupArray", "groupUniqArray"):
        _call(
            f"{base}OrNull",
            # the duplicated aggregate call dedups into one buffer
            lambda a, b=base: (
                f"IF(size({b}({', '.join(a)})) = 0, NULL, "
                f"{b}({', '.join(a)}))"
            ),
        )
    for base in _ORDEFAULT_ZERO:
        _call(
            f"{base}OrDefault",
            lambda a, b=base: f"coalesce({b}({', '.join(a)}), 0)",
        )
    for base in ("count", "uniq", "uniqExact", "countDistinct",
                 "groupArray", "groupUniqArray"):
        # already 0 / [] on empty groups — -OrDefault is the plain call
        _call(f"{base}OrDefault", lambda a, b=base: f"{b}({', '.join(a)})")
    for nm in ("anyOrDefault", "anyLastOrDefault", "argMinOrDefault",
               "argMaxOrDefault"):
        _call(
            nm,
            lambda a, n=nm: _refuse(
                f"{n} (the CH default depends on the argument's type, "
                "unknowable at SQL-text level — use coalesce(...OrNull, "
                "<literal default>))"
            ),
        )
    # countIf: CH's 1-arg form counts rows where cond; the 2-arg form
    # counts non-NULL x where cond (Spark's count_if is 1-arg only)
    _call(
        "countIf",
        lambda a: (
            f"count_if({a[0]})"
            if len(a) == 1
            else f"count({a[0]}) FILTER (WHERE {a[1]})"
        ),
    )
    _call("countDistinct", lambda a: f"count(DISTINCT {', '.join(a)})")
    for ch, unit in _TRUNCS.items():
        _call(ch, lambda a, u=unit: f"date_trunc('{u}', {a[0]})")
    # -OrNull / -OrZero safe-cast variants: OrNull → TRY_CAST; OrZero →
    # the reference's bad-data type default (0 / '' / Epoch —
    # parser/fastjson.go:582-621)
    for ch, ty in _CASTS.items():
        _call(f"{ch}OrNull", lambda a, t=ty: f"TRY_CAST({a[0]} AS {t})")
        zero = {"STRING": "''", "BOOLEAN": "FALSE"}.get(ty, "0")
        _call(
            f"{ch}OrZero",
            lambda a, t=ty, z=zero: f"COALESCE(TRY_CAST({a[0]} AS {t}), {z})",
        )
    _call("toDateOrNull", lambda a: f"TRY_CAST({a[0]} AS DATE)")
    _call(
        "toDateOrZero",
        lambda a: f"COALESCE(TRY_CAST({a[0]} AS DATE), DATE '1970-01-01')",
    )
    _call("toDateTimeOrNull", lambda a: f"TRY_CAST({a[0]} AS TIMESTAMP)")
    _call(
        "toDateTimeOrZero",
        lambda a: (
            f"COALESCE(TRY_CAST({a[0]} AS TIMESTAMP), "
            "TIMESTAMP '1970-01-01 00:00:00')"
        ),
    )
    _call("accurateCastOrNull", _accurate_cast_or_null)
    _call("accurateCast", _accurate_cast)
    for _mx, _mf in (("corrMatrix", "corr"),
                     ("covarSampMatrix", "covar_samp"),
                     ("covarPopMatrix", "covar_pop")):
        _call(_mx, _matrix_agg_fn(_mx, _mf))
    _call("groupArrayIntersect", _group_array_intersect)
    # bit positions of set bits, LSB-first (UInt64 domain via the
    # unsigned shift)
    _call(
        "bitPositionsToArray",
        lambda a: (
            f"filter(transform(sequence(0, 63), __bp -> "
            f"IF((shiftrightunsigned(CAST({a[0]} AS BIGINT), __bp) & 1) "
            f"= 1, __bp, -1)), __bp -> __bp >= 0)"
        ),
    )
    # IPv4StringToNum variants: the base form zero-defaults (reference
    # parser convention); OrNull NULLs instead, OrDefault IS the base
    _call(
        "IPv4StringToNumOrNull",
        lambda a: (
            f"IF({a[0]} RLIKE '{_IPV4_RE_SQL}', "
            + _ipv4_string_to_num(a) + ", CAST(NULL AS BIGINT))"
        ),
    )
    _call("IPv4StringToNumOrDefault", _ipv4_string_to_num)
    # URL-safe base64 (CH strips '=' padding; docs example pinned)
    _call("base64URLEncode", lambda a: f"ch_b64url_encode({a[0]})")
    _call("base64URLDecode", lambda a: f"ch_b64url_decode({a[0]})")
    _call("tryBase64URLDecode", lambda a: f"ch_b64url_try_decode({a[0]})")
    for ch, ty in _CASTS.items():
        _call(ch, lambda a, t=ty: f"CAST({a[0]} AS {t})")
    for ch, agg in _AGG_IF.items():
        _call(ch, lambda a, g=agg: f"{g}({a[0]}) FILTER (WHERE {a[1]})")
    _call(
        "uniqExactIf",
        lambda a: f"count(DISTINCT {a[0]}) FILTER (WHERE {a[1]})",
    )
    # uniqUpTo(N)(x): exact distinct count while ≤ N, pinned at N+1 beyond
    def _uniq_up_to_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "uniqUpTo")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError("uniqUpTo requires the (N)(x) combinator form")
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            n_raw = sql[open1 + 1 : end1 - 1].strip()
            try:
                n = int(n_raw)
            except ValueError as e:
                raise ChTranslationError(
                    f"uniqUpTo requires an integer literal N, got {n_raw!r}"
                ) from e
            x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
            sql = sql[:at] + f"LEAST(count(DISTINCT {x}), {n + 1})" + sql[end2:]
        return sql

    _on("uniqUpTo", _uniq_up_to_pass)
    # topK(N)(x): CH's approximate heavy-hitters list, computed EXACTLY
    # here — per-group frequency fold over one collect_list (Spark dedups
    # the two textually identical aggregate calls into a single buffer);
    # ties broken by value ascending where CH's order is unspecified
    def _top_k_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "topK")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError("topK requires the (N)(x) combinator form")
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            n_raw = sql[open1 + 1 : end1 - 1].strip()
            try:
                n = int(n_raw)
            except ValueError as e:
                raise ChTranslationError(
                    f"topK requires an integer literal N, got {n_raw!r}"
                ) from e
            x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
            cl = f"collect_list({x})"
            expr = (
                f"slice(transform(array_sort(transform(array_distinct({cl}), "
                f"__tk_v -> struct(-size(filter({cl}, "
                f"__tk_e -> __tk_e <=> __tk_v)) AS __tk_c, __tk_v AS __tk_v))), "
                f"__tk_s -> __tk_s.__tk_v), 1, {n})"
            )
            sql = sql[:at] + expr + sql[end2:]
        return sql

    _on("topK", _top_k_pass)
    # topKWeighted(N)(x, w): like topK but ranked by the SUM OF WEIGHTS
    # per value (CH AggregateFunctionTopK weighted variant), computed
    # exactly over one collect_list of (value, weight) structs; ties by
    # value ascending, as the repo's topK
    def _top_k_weighted_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "topKWeighted")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError(
                    "topKWeighted requires the (N)(x, weight) combinator form"
                )
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            n_raw = sql[open1 + 1 : end1 - 1].strip()
            try:
                n = int(n_raw)
            except ValueError as e:
                raise ChTranslationError(
                    f"topKWeighted requires an integer literal N, got {n_raw!r}"
                ) from e
            inner = _split_args(sql[open2 + 1 : end2 - 1])
            if len(inner) != 2:
                raise ChTranslationError("topKWeighted takes (N)(x, weight)")
            x = _translate_functions(inner[0]).strip()
            w = _translate_functions(inner[1]).strip()
            # a row with a NULL value OR weight is skipped entirely (CH
            # aggregate-argument semantics); collect_list drops the NULL the
            # CASE produces.  Without this, a NULL weight-sum struct would
            # sort FIRST (nulls-first) and wrongly top the list.
            cl = (
                f"collect_list(CASE WHEN ({x}) IS NOT NULL "
                f"AND ({w}) IS NOT NULL THEN named_struct('v', {x}, "
                f"'w', CAST({w} AS BIGINT)) END)"
            )
            expr = (
                f"slice(transform(array_sort(transform("
                f"array_distinct(transform({cl}, __tw_e -> __tw_e.v)), "
                f"__tw_v -> struct(-aggregate(filter({cl}, "
                f"__tw_f -> __tw_f.v <=> __tw_v), CAST(0 AS BIGINT), "
                f"(__tw_s, __tw_g) -> __tw_s + __tw_g.w) AS __tw_c, "
                f"__tw_v AS __tw_v))), "
                f"__tw_o -> __tw_o.__tw_v), 1, {n})"
            )
            sql = sql[:at] + expr + sql[end2:]
        return sql

    _on("topKWeighted", _top_k_weighted_pass)
    # groupArrayInsertAt(default[, size])(x, pos): place x at position pos
    # (0-based), holes filled with the explicit default.  CH's bare form
    # fills holes with the TYPE default, which is unknowable at SQL-text
    # level — that form is refused with a rewrite hint.  Duplicate
    # positions: CH keeps "any" value; here the minimum non-null value
    # survives (deterministic where CH is not — noted)
    def _group_array_insert_at_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "groupArrayInsertAt")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError(
                    "groupArrayInsertAt needs the parameterized "
                    "groupArrayInsertAt(default[, size])(x, pos) form — the "
                    "bare form's hole filler is the column TYPE's default, "
                    "unknowable at SQL-text level; pass it explicitly"
                )
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            params = [
                _translate_functions(p)
                for p in _split_args(sql[open1 + 1 : end1 - 1])
            ]
            if len(params) not in (1, 2):
                raise ChTranslationError(
                    "groupArrayInsertAt takes (default[, size]) parameters"
                )
            inner = _split_args(sql[open2 + 1 : end2 - 1])
            if len(inner) != 2:
                raise ChTranslationError("groupArrayInsertAt takes (x, pos)")
            x = _translate_functions(inner[0]).strip()
            pos = _translate_functions(inner[1]).strip()
            default = params[0]
            cl = f"collect_list(named_struct('p', CAST({pos} AS INT), 'x', {x}))"
            sz = (
                f"CAST({params[1]} AS INT)"
                if len(params) == 2
                else f"aggregate({cl}, 0, (__gm, __ge) -> "
                     f"GREATEST(__gm, __ge.p + 1))"
            )
            expr = _bind_arr(
                f"named_struct('l', {cl}, 's', {sz})",
                lambda st: (
                    f"transform(slice(sequence(0, GREATEST({st}.s - 1, 0)), 1, "
                    f"GREATEST({st}.s, 0)), __gi -> coalesce(array_min("
                    f"transform(filter({st}.l, __ge -> __ge.p = __gi), "
                    f"__gx -> __gx.x)), {default}))"
                ),
            )
            sql = sql[:at] + expr + sql[end2:]
        return sql

    _on("groupArrayInsertAt", _group_array_insert_at_pass)
    # sumMapFiltered([keys])(k, v): sumMap restricted to the listed keys —
    # the per-row map is filtered BEFORE the merge fold, so dropped keys
    # never enter the aggregate state (same shape CH builds)
    def _sum_map_filtered_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "sumMapFiltered")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError(
                    "sumMapFiltered requires the (keys_to_keep)(keys, values) "
                    "combinator form"
                )
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            keep = _translate_functions(sql[open1 + 1 : end1 - 1]).strip()
            inner = _split_args(sql[open2 + 1 : end2 - 1])
            if len(inner) != 2:
                raise ChTranslationError(
                    "sumMapFiltered takes (keys_to_keep)(keys, values)"
                )
            k = _translate_functions(inner[0]).strip()
            v = _translate_functions(inner[1]).strip()
            row = (
                f"map_filter(map_from_arrays({k}, {v}), "
                f"(__mk, __mv) -> array_contains({keep}, __mk))"
            )
            expr = _agg_map(
                [row], "coalesce(__a, 0) + coalesce(__b, 0)", "sumMapFiltered"
            )
            sql = sql[:at] + expr + sql[end2:]
        return sql

    _on("sumMapFiltered", _sum_map_filtered_pass)
    _pass(_rewrite_quantile, "quantileExactIf", "percentile", agg_if=True)
    _pass(_rewrite_quantile,
        "quantileTimingIf", "percentile_approx", agg_if=True
    )
    _pass(_rewrite_quantile, "quantileIf", "percentile_approx", agg_if=True)
    _pass(_rewrite_quantile,
        "quantilesExactWeighted", "percentile", wrap_array=True, weighted=True
    )
    _pass(_rewrite_quantile,
        "quantileExactWeighted", "percentile", weighted=True
    )
    _pass(_rewrite_quantile, "quantilesExact", "percentile", wrap_array=True)
    _pass(_rewrite_quantile, "quantilesTiming", "percentile_approx", wrap_array=True)
    _pass(_rewrite_quantile, "quantiles", "percentile_approx", wrap_array=True)
    _pass(_rewrite_quantile, "quantileExact", "percentile")
    # quantileDD(relative_accuracy, level)(x): the DDSketch estimator —
    # drop the accuracy knob and ride the shared approx sketch (same
    # one-sketch-for-all-estimators policy as TDigest/BFloat16)
    _call(
        "quantilesDD",
        lambda a: f"quantiles({', '.join(q.strip() for q in a[1:])})"
        if len(a) >= 2 else _refuse("quantilesDD takes (accuracy, p…)"),
    )
    _call(
        "quantileDD",
        lambda a: f"quantileTDigest({a[1].strip()})"
        if len(a) == 2 else _refuse("quantileDD takes (accuracy, p)"),
    )
    # sketch-estimator variants share Spark's one approx-percentile sketch
    for qname in (
        "quantileTDigest",
        "quantileDeterministic",
        "quantileBFloat16",
        "quantileTiming",
    ):
        _pass(_rewrite_quantile, qname, "percentile_approx")
    _pass(_rewrite_quantile, "quantile", "percentile_approx")
    _call("medianExactWeighted", lambda a: f"percentile({a[0]}, 0.5, {a[1]})")
    _call("medianExact", lambda a: f"percentile({a[0]}, 0.5)")
    _call("median", lambda a: f"percentile_approx({a[0]}, 0.5)")
    _call("sumDistinct", lambda a: f"sum(DISTINCT {a[0]})")
    # groupBitmap(x) returns the CARDINALITY of the bitmap — exact distinct
    _call("groupBitmap", lambda a: f"count(DISTINCT {a[0]})")
    # nanosecond epoch forms: Spark timestamps are µs — ns scale by 1000
    _call("toUnixTimestamp64Nano", lambda a: f"(unix_micros({a[0]}) * 1000)")
    _call(
        "fromUnixTimestamp64Nano",
        lambda a: f"timestamp_micros(CAST(({a[0]}) DIV 1000 AS BIGINT))",
    )
    _call("caseWithExpression", _case_with_expression)
    for mname, combine in (
        ("sumMap", "coalesce(__a, 0) + coalesce(__b, 0)"),
        ("minMap", "LEAST(__a, __b)"),
        ("maxMap", "GREATEST(__a, __b)"),
    ):
        _call(mname, lambda a, c=combine, n=mname: _agg_map(a, c, n))
    _call("toDateTime64", _to_datetime64)
    _call("toYYYYMMDD", lambda a: f"CAST(date_format({a[0]}, 'yyyyMMdd') AS INT)")
    _call("toYYYYMM", lambda a: f"CAST(date_format({a[0]}, 'yyyyMM') AS INT)")
    # CH toDayOfWeek: 1=Monday..7=Sunday; Spark dayofweek: 1=Sunday..7
    _call("toDayOfWeek", lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)")
    for ch, unit in _ADD_UNITS.items():
        _call(ch, lambda a, u=unit: f"timestampadd({u}, {a[1]}, {a[0]})")
    for ch, unit in _SUB_UNITS.items():
        _call(ch, lambda a, u=unit: f"timestampadd({u}, -({a[1]}), {a[0]})")
    _call("dateDiff", _date_diff)
    _call("formatDateTime", _format_datetime)
    _call(
        "position",
        # CH: position(haystack, needle[, start]) is case-SENSITIVE;
        # Spark locate flips args.  Emit locate() directly — an instr()
        # spelling here would be re-rewritten by the later instr→
        # positionCaseInsensitive alias pass and silently lowercase both
        # sides (r9 ADVICE regression).
        lambda a: f"locate({a[1]}, {a[0]})" if len(a) == 2
        else f"locate({a[1]}, {a[0]}, {a[2]})" if len(a) == 3
        else f"position({a[0]})",
    )
    # scalar bit ops (CH function aliases of the operators)
    _call("bitAnd", lambda a: f"(({a[0]}) & ({a[1]}))")
    _call("bitOr", lambda a: f"(({a[0]}) | ({a[1]}))")
    _call("bitXor", lambda a: f"(({a[0]}) ^ ({a[1]}))")
    _call("bitNot", lambda a: f"(~({a[0]}))")
    _call("bitCount", lambda a: f"bit_count({a[0]})")
    # bitTest returns UInt8 0/1 in CH (summable), not a boolean
    _call("bitTest", lambda a: f"(shiftright({a[0]}, {a[1]}) & 1)")
    _call("uniqExact", lambda a: f"count(DISTINCT {', '.join(a)})")
    _call(
        "intDivOrZero",
        lambda a: f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) DIV ({a[1]}) END)",
    )
    _call(
        "moduloOrZero",
        lambda a: f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END)",
    )
    _call("intDiv", lambda a: f"(({a[0]}) DIV ({a[1]}))")
    _call("modulo", lambda a: f"(({a[0]}) % ({a[1]}))")
    # named arithmetic (CH operator-function aliases)
    _call("plus", lambda a: f"(({a[0]}) + ({a[1]}))")
    _call("minus", lambda a: f"(({a[0]}) - ({a[1]}))")
    _call("multiply", lambda a: f"(({a[0]}) * ({a[1]}))")
    _call("divide", lambda a: f"(({a[0]}) / ({a[1]}))")
    _call("negate", lambda a: f"(-({a[0]}))")
    _call("empty", lambda a: f"({_len_expr(a[0], str_fn='octet_length')} = 0)")
    _call(
        "notEmpty",
        lambda a: f"({_len_expr(a[0], str_fn='octet_length')} > 0)",
    )
    # higher-order array functions: ClickHouse puts the lambda FIRST
    # (arrayMap(x -> ..., arr)); Spark puts the collection first — and the
    # lambda syntax itself (x -> expr, (x, y) -> expr) is identical in
    # both.  CH's TWO-array forms zip element-wise — Spark's 2-param
    # transform/filter lambda binds (element, INDEX), so passing the
    # lambda through silently rebound y to the index (r9 fix): two-array
    # forms now ride zip_with; ≥3 arrays refuse (Spark zip_with is
    # binary — rewrite with arrayZip).
    def _hof_two(a: list[str], one: str, zipped) -> str:
        if len(a) == 2:
            return one
        if len(a) == 3:
            return zipped(f"zip_with({a[1]}, {a[2]}, {a[0]})")
        raise ChTranslationError(
            "higher-order array functions translate for 1 or 2 array"
            " arguments — zip ≥3 arrays explicitly with arrayZip")

    _call(
        "arrayMap",
        lambda a: _hof_two(a, f"transform({a[1]}, {a[0]})", lambda z: z))
    _call(
        "arrayFilter",
        lambda a: _hof_two(
            a, f"filter({a[1]}, {a[0]})",
            lambda z: (
                f"transform(filter(zip_with({a[1]}, {z},"
                f" (__hf_x, __hf_k) -> named_struct('v', __hf_x,"
                f" 'k', CAST(__hf_k AS BOOLEAN))), __hf_s -> __hf_s.k),"
                f" __hf_s -> __hf_s.v)")))
    _call(
        "arrayExists",
        lambda a: _hof_two(
            a, f"exists({a[1]}, {a[0]})",
            lambda z: f"exists({z}, __he_x -> CAST(__he_x AS BOOLEAN))"))
    _call(
        "arrayAll",
        lambda a: _hof_two(
            a, f"forall({a[1]}, {a[0]})",
            lambda z: f"forall({z}, __he_x -> CAST(__he_x AS BOOLEAN))"))
    _call(
        "arrayCount",
        lambda a: _hof_two(
            a, f"size(filter({a[1]}, {a[0]}))",
            lambda z: (f"size(filter({z},"
                       f" __he_x -> CAST(__he_x AS BOOLEAN)))")))
    _call("arraySplit", _array_split(False))
    _call("arrayReverseSplit", _array_split(True))
    # -Array aggregate combinators: aggregate over every element of the
    # rows' arrays — per-row array fold composed with the row aggregate
    # (same DOUBLE widening note as arraySum)
    _call("sumArray", lambda a: f"sum({_array_sum([a[0]])})")
    _call("minArray", lambda a: f"min(array_min({a[0]}))")
    _call("maxArray", lambda a: f"max(array_max({a[0]}))")
    _call("countArray", lambda a: f"sum(size({a[0]}))")
    _call(
        "avgArray",
        # try_divide: zero total elements → NULL (CH yields NaN; NULL is
        # the ANSI-safe reading — never a runtime error)
        lambda a: f"try_divide(sum({_array_sum([a[0]])}), sum(size({a[0]})))",
    )
    _call("arraySum", _array_sum)
    _call("arrayEnumerate", lambda a: f"sequence(1, size({a[0]}))")
    _call("indexOf", lambda a: f"array_position({a[0]}, {a[1]})")
    _call(
        "arrayStringConcat",
        lambda a: f"array_join({a[0]}, {a[1] if len(a) > 1 else chr(39) * 2})",
    )
    _call("hasAny", lambda a: f"arrays_overlap({a[0]}, {a[1]})")
    _call(
        "hasAll",
        lambda a: f"forall({a[1]}, __ha_x -> array_contains({a[0]}, __ha_x))",
    )
    _call("splitByChar", lambda a: _split_by_char(a))
    _call("splitByString", lambda a: _split_by_char(a))
    # generic typed JSONExtract(json, [path…,] 'Type') — dispatch the
    # scalar types onto the same machinery as the JSONExtract<T> forms;
    # array/tuple/map type arguments refuse (no faithful generic
    # decomposition at SQL level)
    _call("JSONExtract", _json_extract_generic)
    for ch, cast in [
        ("JSONExtractString", None),
        ("JSONExtractRaw", None),
        ("visitParamExtractString", None),
        ("JSONExtractInt", "BIGINT"),
        ("JSONExtractUInt", "BIGINT"),
        ("JSONExtractFloat", "DOUBLE"),
        ("JSONExtractBool", "BOOLEAN"),
        # simpleJSON* (aka visitParam*): the fast flat-document scanners —
        # same results as the general forms on the flat metrics the
        # reference parses (parser/gjson.go paths)
        ("simpleJSONExtractString", None),
        ("simpleJSONExtractRaw", None),
        ("simpleJSONExtractInt", "BIGINT"),
        ("simpleJSONExtractUInt", "BIGINT"),
        ("simpleJSONExtractFloat", "DOUBLE"),
        ("simpleJSONExtractBool", "BOOLEAN"),
        # legacy visitParam* aliases of the simpleJSON family
        # (ClickHouse docs list them 1:1; only the String/Has forms were
        # covered before — the numeric tail fell through untranslated)
        ("visitParamExtractRaw", None),
        ("visitParamExtractInt", "BIGINT"),
        ("visitParamExtractUInt", "BIGINT"),
        ("visitParamExtractFloat", "DOUBLE"),
        ("visitParamExtractBool", "BOOLEAN"),
    ]:
        _call(ch, lambda a, c=cast: _json_extract(a, c))
    _call("simpleJSONHas", lambda a: f"({_json_extract(a, None)} IS NOT NULL)")
    _call(
        "JSONExtractKeys",
        # CH returns [] (not NULL) for malformed / non-object input;
        # Spark's json_object_keys yields NULL there — coalesce to match
        lambda a: (
            "COALESCE(json_object_keys("
            + (a[0] if len(a) == 1 else _json_extract(a, None))
            + "), CAST(array() AS ARRAY<STRING>))"
        ),
    )
    _call(
        "divideDecimal", _decimal_arith_fn("divideDecimal",
                                                "ch_decimal_div"))
    _call(
        "multiplyDecimal", _decimal_arith_fn("multiplyDecimal",
                                                  "ch_decimal_mul"))
    _call("toDecimalString", _to_decimal_string_fn)
    _call("JSONExtractKeysAndValues", _json_kv_fn)
    _call("JSONType", _json_type_fn)
    _call("JSONExtractArrayRaw", _json_array_raw_fn)
    _call(
        "toStringCutToZero",
        lambda a: f"substring_index({a[0]}, char(0), 1)",
    )
    _call("JSONHas", lambda a: f"({_json_extract(a, None)} IS NOT NULL)")
    _call("visitParamHas", lambda a: f"({_json_extract(a, None)} IS NOT NULL)")
    _call(
        "JSONLength",
        # CH: array → element count, object → key count, else 0; the
        # 1-arg form measures the whole document
        lambda a: (
            "coalesce(json_array_length("
            + (a[0] if len(a) == 1 else _json_extract(a, None))
            + "), size(json_object_keys("
            + (a[0] if len(a) == 1 else _json_extract(a, None))
            + ")), 0)"
        ),
    )
    _call("extract", _extract_regex)
    _call("isNull", lambda a: f"({a[0]} IS NULL)")
    _call("isNotNull", lambda a: f"({a[0]} IS NOT NULL)")
    # fixed-width time buckets: epoch floor-division keeps the arithmetic
    # JVM-side and partition-prunable (same shape CH uses internally)
    for ch, secs in _FIXED_BUCKETS.items():
        _call(ch, lambda a, s=secs: _bucket_expr(a[0], s))
    _call("toStartOfInterval", _to_start_of_interval)
    # time-window scalars (CH WINDOW VIEW family, callable standalone):
    # tumble → epoch-aligned [start, end) tuple, hop → FIRST covering window
    _call("tumbleStart", lambda a: _tumble_edge(a, 1, "tumbleStart"))
    _call("tumbleEnd", lambda a: _tumble_edge(a, 2, "tumbleEnd"))
    _call("tumble", _tumble_fn)
    _call("hopStart", lambda a: _hop_edge(a, 1, "hopStart"))
    _call("hopEnd", lambda a: _hop_edge(a, 2, "hopEnd"))
    _call("hop", _hop_fn)
    # URL dissection → Spark try_parse_url parts.  Spark 4's parse_url
    # THROWS [INVALID_URL] on any malformed row; ClickHouse's URL getters
    # never fail and return '' for invalid input — so every rewrite here
    # must use the try_ form and coalesce NULL to ''.
    # firstSignificantSubdomain family: CH's algorithm over an embedded
    # public-suffix snapshot (psl_snapshot.py documents provenance and the
    # last-two-labels parity property); host extraction is CH domain()
    # semantics inside the UDF, so bare hosts work (try_parse_url needs a
    # scheme)
    _call(
        "firstSignificantSubdomain",
        lambda a: f"ch_first_significant_subdomain({a[0]})",
    )
    _call(
        "cutToFirstSignificantSubdomain",
        lambda a: f"ch_cut_to_first_significant_subdomain({a[0]})",
    )
    for ch, part in [
        ("domain", "HOST"),
        ("path", "PATH"),
        ("queryString", "QUERY"),
        ("protocol", "PROTOCOL"),
        ("fragment", "REF"),
    ]:
        _call(
            ch,
            lambda a, p=part: f"coalesce(try_parse_url({a[0]}, '{p}'), '')",
        )
    _call(
        "domainWithoutWWW",
        lambda a: (
            "regexp_replace(coalesce("
            f"try_parse_url({a[0]}, 'HOST'), ''), '^www\\\\.', '')"
        ),
    )
    _call(
        "URLDomain",
        lambda a: f"coalesce(try_parse_url({a[0]}, 'HOST'), '')",
    )
    _call(
        "topLevelDomain",
        # CH yields '' for IP-literal / invalid hosts; the letters-only
        # last-label guard keeps IPs and bare names out, matching that
        lambda a: (
            f"CASE WHEN try_parse_url({a[0]}, 'HOST') RLIKE "
            "'\\\\.[A-Za-z][A-Za-z0-9-]*$' "
            f"THEN substring_index(try_parse_url({a[0]}, 'HOST'), '.', -1) "
            "ELSE '' END"
        ),
    )
    _call(
        "pathFull",
        # CH pathFull = path + ?query + #fragment
        lambda a: (
            f"concat(coalesce(try_parse_url({a[0]}, 'PATH'), ''), "
            f"coalesce(concat('?', try_parse_url({a[0]}, 'QUERY')), ''), "
            f"coalesce(concat('#', try_parse_url({a[0]}, 'REF')), ''))"
        ),
    )
    _call(
        "cutQueryString",
        # CH drops '?query' but KEEPS '#fragment'.  A '?' is only a query
        # delimiter when it precedes any '#' (a '?' inside the fragment is
        # data); when cutting, re-append everything from the first '#' on.
        # Pure string splices — never parses, so malformed rows cannot
        # abort the query (CH's getters are string cuts too).
        lambda a: (
            f"CASE WHEN locate('?', {a[0]}) > 0 AND (locate('#', {a[0]}) = 0 "
            f"OR locate('?', {a[0]}) < locate('#', {a[0]})) "
            f"THEN concat(substring_index({a[0]}, '?', 1), "
            f"CASE WHEN locate('#', {a[0]}) > 0 "
            f"THEN substring({a[0]}, locate('#', {a[0]})) ELSE '' END) "
            f"ELSE {a[0]} END"
        ),
    )
    _call(
        "cutFragment", lambda a: f"substring_index({a[0]}, '#', 1)"
    )
    _call(
        "cutQueryStringAndFragment",
        lambda a: f"substring_index(substring_index({a[0]}, '#', 1), '?', 1)",
    )
    _call(
        "decodeURLComponent",
        # url_decode is FORM decoding ('+' → space); CH percent-decodes
        # only — protect literal '+' before decoding
        lambda a: f"url_decode(replace({a[0]}, '+', '%2B'))",
    )
    _call(
        "encodeURLComponent",
        # url_encode is form-encoding (space → '+'); CH percent-encodes —
        # the '+'→'%20' fixup covers the one divergent character class
        lambda a: f"replace(url_encode({a[0]}), '+', '%20')",
    )
    # interval constructors (date arithmetic: ts + toIntervalDay(3))
    for ch, slot in [
        ("toIntervalYear", 0), ("toIntervalMonth", 1), ("toIntervalWeek", 2),
        ("toIntervalDay", 3), ("toIntervalHour", 4), ("toIntervalMinute", 5),
        ("toIntervalSecond", 6),
    ]:
        def _mk(a, s=slot):
            parts = ["0"] * 7
            parts[s] = f"({a[0]})"
            return f"make_interval({', '.join(parts)})"
        _call(ch, _mk)
    _call(
        "toIntervalQuarter",
        lambda a: f"make_interval(0, ({a[0]}) * 3, 0, 0, 0, 0, 0)",
    )
    # power-of-base shortcuts; the int forms stay exact in the Int64 range
    # (doubles represent every power of 2 ≤ 2^62 and of 10 ≤ 10^18 exactly)
    _call("exp2", lambda a: f"power(2, {a[0]})")
    _call("exp10", lambda a: f"power(10, {a[0]})")
    # exponent range guards: Java shiftleft wraps the shift mod 64 and
    # power() overflow saturates — out-of-range must ERROR like CH, not
    # silently wrap (raise_error branch is lazy under CASE)
    _call(
        "intExp2",
        lambda a: (
            f"CASE WHEN ({a[0]}) >= 0 AND ({a[0]}) <= 62 "
            f"THEN shiftleft(CAST(1 AS BIGINT), {a[0]}) "
            f"ELSE CAST(raise_error(concat('intExp2 exponent outside the "
            f"Int64-exact range [0, 62]: ', CAST({a[0]} AS STRING))) "
            "AS BIGINT) END"
        ),
    )
    _call(
        "intExp10",
        lambda a: (
            f"CASE WHEN ({a[0]}) >= 0 AND ({a[0]}) <= 18 "
            f"THEN CAST(power(10, {a[0]}) AS BIGINT) "
            f"ELSE CAST(raise_error(concat('intExp10 exponent outside the "
            f"Int64-exact range [0, 18]: ', CAST({a[0]} AS STRING))) "
            "AS BIGINT) END"
        ),
    )
    for be in ("parseDateTimeBestEffortOrNull", "parseDateTime64BestEffortOrNull"):
        _call(be, lambda a: _parse_best_effort(a[0]))
    for be in ("parseDateTimeBestEffortOrZero", "parseDateTime64BestEffortOrZero"):
        _call(
            be,
            lambda a: (
                f"coalesce({_parse_best_effort(a[0])}, "
                "TIMESTAMP '1970-01-01 00:00:00')"
            ),
        )
    for be in ("parseDateTimeBestEffort", "parseDateTime64BestEffort"):
        _call(be, lambda a: _parse_best_effort(a[0]))
    _call("format", _ch_format)
    _call(
        "replaceOne",
        # first-occurrence splice; locate() is re-evaluated but cheap
        lambda a: (
            f"CASE WHEN locate({a[1]}, {a[0]}) > 0 "
            f"THEN concat(substring({a[0]}, 1, locate({a[1]}, {a[0]}) - 1), "
            f"{a[2]}, substring({a[0]}, locate({a[1]}, {a[0]}) + length({a[1]}))) "
            f"ELSE {a[0]} END"
        ),
    )
    _call(
        "toYYYYMMDDhhmmss",
        lambda a: f"CAST(date_format({a[0]}, 'yyyyMMddHHmmss') AS BIGINT)",
    )
    _call(
        "wordCount",
        # regexp trim, NOT trim(): Spark trim strips only ASCII spaces, so
        # a leading tab/newline would leave an empty first token
        lambda a: (
            f"CASE WHEN regexp_replace({a[0]}, '^\\\\s+|\\\\s+$', '') = '' "
            "THEN 0 ELSE size(split("
            f"regexp_replace({a[0]}, '^\\\\s+|\\\\s+$', ''), '\\\\s+')) END"
        ),
    )
    # population moments: Spark skewness/kurtosis ARE the population forms
    # (kurtosis is excess — CH kurtPop is not, hence the +3)
    _call("skewPop", lambda a: f"skewness({a[0]})")
    _call("kurtPop", lambda a: f"(kurtosis({a[0]}) + 3)")
    _call("toWeek", _to_week)
    _call("gcd", _gcd)
    _call("lcm", _lcm)
    _call("roundToExp2", _round_to_exp2)
    _call("roundDown", _round_down)
    _call("stringJaccardIndexUTF8", _string_jaccard)
    _call("stringJaccardIndex", _string_jaccard)
    _call("entropy", _entropy)
    _call("mapPopulateSeries", _map_populate_series)
    _call("replaceRegexpOne", _replace_regexp_one)
    for suffix, ty in [
        ("UInt8", "BIGINT"), ("UInt16", "BIGINT"), ("UInt32", "BIGINT"),
        ("UInt64", "DECIMAL(20,0)"), ("Int8", "BIGINT"), ("Int16", "BIGINT"),
        ("Int32", "BIGINT"), ("Int64", "BIGINT"), ("Float32", "DOUBLE"),
        ("Float64", "DOUBLE"), ("String", "STRING"), ("Date", "DATE"),
        ("DateTime", "TIMESTAMP"),
    ]:
        _call(
            f"emptyArray{suffix}",
            lambda a, t=ty: f"CAST(array() AS ARRAY<{t}>)",
        )
    # emptyArrayToSingle (r10, previously refused): pads an empty array
    # with the element TYPE's default — translatable exactly when the
    # type is visible: an emptyArray<T>() constructor (already rewritten
    # to its typed CAST by the loop above — recursive arg translation
    # means we see that form) or a non-empty array literal (identity).
    # Arbitrary expressions still refuse: the element default is
    # invisible at SQL-text level.
    _call("emptyArrayToSingle", _empty_array_to_single)
    _call(
        "formatReadableSize",
        lambda a: _format_readable(
            a[0], 1024.0,
            [" B", " KiB", " MiB", " GiB", " TiB", " PiB", " EiB", " ZiB",
             " YiB"],
        ),
    )
    _call(
        "formatReadableQuantity",
        lambda a: _format_readable(
            a[0], 1000.0,
            ["", " thousand", " million", " billion", " trillion",
             " quadrillion"],
        ),
    )
    # tuple arithmetic (r9): translatable when the tuple arity is
    # VISIBLE at SQL-text level — a parenthesized (a, b, ...) literal or
    # an explicit tuple(...) call (this pass runs BEFORE the tuple →
    # named_struct rewrite so both spellings parse); tuple-typed COLUMNS
    # carry no text-level arity and refuse.  Semantics are definitional
    # element-wise arithmetic (CH docs tuple-functions examples pinned
    # in tests); tupleDivide[ByNumber] divides as Float64 like CH's
    # divide().  tupleHammingDistance counts non-equal element pairs; a
    # NULL comparison counts as a mismatch (documented extension — CH
    # tuples are non-Nullable element-wise in this position).
    for _tan, _top in (("tuplePlus", "+"), ("tupleMinus", "-"),
                       ("tupleMultiply", "*"), ("tupleDivide", "/"),
                       ("tupleIntDiv", "DIV"), ("tupleModulo", "%")):
        _call(_tan, _tuple_binop_fn(_tan, _top))
    _call(
        "tupleNegate",
        lambda a: _tuple_map1("tupleNegate", a, lambda x: f"(-({x}))"))
    _call(
        "tupleMultiplyByNumber",
        lambda a: _tuple_by_number("tupleMultiplyByNumber", a, "*"))
    _call(
        "tupleDivideByNumber",
        lambda a: _tuple_by_number("tupleDivideByNumber", a, "/"))
    _call("tupleHammingDistance", _tuple_hamming)
    _call("tupleConcat", lambda a: _tuple_concat(a))
    # tuple → named_struct with CH-style 1-based element names, so both
    # tupleElement(t, N) and tupleElement(t, 'name') become field access
    _call(
        "tuple",
        lambda a: "named_struct("
        + ", ".join(f"'_{i + 1}', {x}" for i, x in enumerate(a))
        + ")",
    )
    _call("tupleElement", _tuple_element)

    def _untuple(a: list[str]) -> str:
        # untuple(t) expands a tuple column into its fields — Spark's
        # struct star expansion, valid only on a (possibly qualified)
        # column reference; arbitrary expressions would need a subquery
        if len(a) == 1 and re.fullmatch(
            r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)?", a[0].strip()
        ):
            return f"{a[0].strip()}.*"
        raise ChTranslationError(
            "untuple() is only translatable on a plain column reference "
            "(becomes col.*) — alias the expression in a subquery first"
        )

    _call("untuple", _untuple)
    # --- batch 3: string/array/map/stat/ip/uuid/time tail ---
    _call("mid", lambda a: f"substring({', '.join(a)})")
    _call(
        "arrayProduct",
        lambda a: (
            f"aggregate({a[0]}, CAST(1 AS DOUBLE), "
            "(__ap_a, __ap_x) -> __ap_a * CAST(__ap_x AS DOUBLE))"
        ),
    )
    _call(
        "arrayReverseSort",
        lambda a: (
            f"reverse(array_sort({a[0]}))"
            if len(a) == 1
            else _refuse("arrayReverseSort with a custom comparator "
                         "(rewrite as reverse(array_sort(..)) or sort by a "
                         "transformed key column)")
        ),
    )
    _call(
        "arrayFold",
        # CH arrayFold(λ(acc, x), arr, init) → aggregate(arr, init, λ)
        lambda a: (
            f"aggregate({a[1]}, {a[2]}, {a[0]})"
            if len(a) == 3
            else _refuse("arrayFold over multiple arrays (zip with "
                         "arrays_zip first)")
        ),
    )
    _call("mapFilter", lambda a: f"map_filter({a[1]}, {a[0]})")
    for mfn, combine in (
        ("mapAdd", "coalesce(__m1, 0) + coalesce(__m2, 0)"),
        ("mapSubtract", "coalesce(__m1, 0) - coalesce(__m2, 0)"),
        ("mapUpdate", "coalesce(__m2, __m1)"),
        ("mapConcat", "coalesce(__m1, __m2)"),  # CH: FIRST map's key wins
    ):
        _call(
            mfn,
            lambda a, c=combine, n=mfn: (
                f"map_zip_with({a[0]}, {a[1]}, (__mk, __m1, __m2) -> {c})"
                if len(a) == 2
                else _refuse(f"{n} with more than two maps (chain the "
                             "two-map form)")
            ),
        )
    _call(
        "simpleLinearRegression",
        # CH (x, y) → (k, b) for y = kx + b; Spark regr_* take (y, x)
        lambda a: (
            f"named_struct('_1', regr_slope({a[1]}, {a[0]}), "
            f"'_2', regr_intercept({a[1]}, {a[0]}))"
        ),
    )
    _call(
        "boundingRatio",
        # slope between the leftmost and rightmost points of the group
        lambda a: (
            f"try_divide(max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]}), "
            f"max({a[0]}) - min({a[0]}))"
        ),
    )
    _call("bitHammingDistance", lambda a: f"bit_count(({a[0]}) ^ ({a[1]}))")
    _call(
        "isIPv4String",
        lambda a: f"CAST({a[0]} RLIKE '{_IPV4_RE_SQL}' AS INT)",
    )
    _call(
        "isIPv6String",
        lambda a: f"CAST({a[0]} RLIKE '{_IPV6_RE_SQL}' AS INT)",
    )
    _call(
        "UUIDStringToNum",
        lambda a: (
            f"unhex(replace({a[0]}, '-', ''))"
            if len(a) == 1
            else _refuse("UUIDStringToNum variant argument")
        ),
    )
    _call(
        "UUIDNumToString",
        lambda a: (
            f"lower(concat(substring(hex({a[0]}), 1, 8), '-', "
            f"substring(hex({a[0]}), 9, 4), '-', "
            f"substring(hex({a[0]}), 13, 4), '-', "
            f"substring(hex({a[0]}), 17, 4), '-', "
            f"substring(hex({a[0]}), 21, 12)))"
            if len(a) == 1
            else _refuse("UUIDNumToString variant argument")
        ),
    )
    # change<Part>(d, v) family — make_timestamp recomposition
    for _cp in ("year", "month", "day", "hour", "minute", "second"):
        _call(f"change{_cp.title()}", _change_date_fn(_cp))
    # NEW-style snowflake ID functions (the successors of the Twitter-
    # epoch family below): epoch defaults to 0 = unix; the UInt64 id
    # rides DECIMAL(20,0), so >>22 is an exact div by 2^22
    for _sn in ("snowflakeIDToDateTime", "snowflakeIDToDateTime64"):
        _call(
            _sn,
            lambda a, n=_sn: (
                f"timestamp_millis(CAST(CAST({a[0]} AS DECIMAL(20, 0)) "
                f"div 4194304 AS BIGINT)"
                + (f" + CAST({a[1]} AS BIGINT)" if len(a) == 2 else "")
                + ")"
            ) if len(a) in (1, 2) else _refuse(
                f"{n} takes (id[, epoch]) — timezone arguments don't"
                " translate (Spark uses the single session timezone)"
            ),
        )
    for _sn in ("dateTimeToSnowflakeID", "dateTime64ToSnowflakeID"):
        _call(
            _sn,
            lambda a, n=_sn: (
                f"CAST(CAST(unix_millis(CAST({a[0]} AS TIMESTAMP))"
                + (f" - CAST({a[1]} AS BIGINT)" if len(a) == 2 else "")
                + " AS DECIMAL(20, 0)) * 4194304 AS DECIMAL(20, 0))"
            ) if len(a) in (1, 2) else _refuse(f"{n} takes (dt[, epoch])"),
        )
    # division that NULLs on a zero divisor (CH divideOrNull)
    _call(
        "divideOrNull",
        lambda a: (f"IF(({a[1]}) = 0, CAST(NULL AS DOUBLE), "
                   f"CAST({a[0]} AS DOUBLE) / ({a[1]}))"),
    )
    # Spark strings are always valid UTF-8 (invalid bytes become U+FFFD
    # at ingestion) — isValidUTF8 is the NULL-preserving constant 1
    _call(
        "isValidUTF8",
        lambda a: f"IF(({a[0]}) IS NULL, CAST(NULL AS INT), 1)",
    )
    _call(
        "positionCaseInsensitiveUTF8",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    # CH's instr is an ALIAS OF positionCaseInsensitive (the MySQL
    # collation convention) — Spark's builtin instr is case-SENSITIVE,
    # so the bare passthrough silently diverged; emitted via locate to
    # keep the rewrite fixed-point
    _call(
        "instr",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))"
        if len(a) == 2 else _refuse("instr takes (haystack, needle)"),
    )
    # RESPECT NULLS aggregate forms: Spark's first/last already respect
    # NULLs by default (CH's bare any/anyLast SKIP them — that pair maps
    # elsewhere with the skip-note)
    for _rn, _rf in (("anyRespectNulls", "first"),
                     ("firstValueRespectNulls", "first_value"),
                     ("anyLastRespectNulls", "last"),
                     ("lastValueRespectNulls", "last_value")):
        _call(_rn, lambda a, f=_rf: f"{f}({a[0]})")
    # -Array combinator alias spellings over groupArray bases
    _call("groupArrayArray", lambda a: f"flatten(collect_list({a[0]}))")
    _call(
        "groupUniqArrayArray",
        lambda a: f"array_distinct(flatten(collect_list({a[0]})))")
    _call("UTCTimestamp", lambda a: "current_timestamp()")
    # wall-time <-> UTC converters: Spark's builtins have the exact CH
    # signature and semantics
    _call("toUTCTimestamp", lambda a: f"to_utc_timestamp({a[0]}, {a[1]})")
    _call("fromUTCTimestamp", lambda a: f"from_utc_timestamp({a[0]}, {a[1]})")
    # sub-second date arithmetic via exact micros (ns stays refused)
    for _mn, _mul, _sgn in (("addMilliseconds", 1000, "+"),
                            ("subtractMilliseconds", 1000, "-"),
                            ("addMicroseconds", 1, "+"),
                            ("subtractMicroseconds", 1, "-")):
        _call(
            _mn,
            lambda a, m=_mul, s=_sgn: (
                f"timestamp_micros(unix_micros(CAST({a[0]} AS TIMESTAMP))"
                f" {s} CAST({a[1]} AS BIGINT) * {m})"
            ),
        )
    _call("addInterval", lambda a: f"(({a[0]}) + ({a[1]}))")
    _call("subtractInterval", lambda a: f"(({a[0]}) - ({a[1]}))")
    _call(
        "toModifiedJulianDayOrNull",
        lambda a: (
            f"IF(try_cast({a[0]} AS DATE) IS NULL, CAST(NULL AS INT), "
            f"datediff(try_cast({a[0]} AS DATE), DATE '1858-11-17'))"
        ),
    )
    _call(
        "fromModifiedJulianDayOrNull",
        lambda a: f"try_cast(date_add(DATE '1858-11-17', "
                  f"CAST({a[0]} AS INT)) AS DATE)",
    )
    # hasSubsequence family: greedy in-order character walk (byte-wise
    # in CH; identical on the UTF-8 forms since Spark chars are
    # codepoints — non-ASCII plain-form inputs are a documented delta)
    for _hs, _lw in (("hasSubsequence", False),
                     ("hasSubsequenceUTF8", False),
                     ("hasSubsequenceCaseInsensitive", True),
                     ("hasSubsequenceCaseInsensitiveUTF8", True)):
        _call(
            _hs,
            lambda a, lw=_lw: (
                (lambda h, n:
                    f"(aggregate(split({h}, ''), 0, (__sq, __sc) -> "
                    f"IF(__sq < length({n}) AND __sc = "
                    f"substring({n}, __sq + 1, 1), __sq + 1, __sq)) "
                    f"= length({n}))"
                 )(f"lower({a[0]})" if lw else a[0],
                   f"lower({a[1]})" if lw else a[1])
            ) if len(a) == 2 else _refuse("hasSubsequence takes (h, n)"),
        )
    # comparison FUNCTION forms (CH registers the operators as callable
    # names too)
    for _cn, _co in (("equals", "="), ("notEquals", "!="),
                     ("less", "<"), ("greater", ">"),
                     ("lessOrEquals", "<="), ("greaterOrEquals", ">=")):
        _call(
            _cn,
            lambda a, o=_co, n=_cn: f"(({a[0]}) {o} ({a[1]}))"
            if len(a) == 2 else _refuse(f"{n} takes exactly 2 arguments"),
        )
    _call("avgDistinct", lambda a: f"avg(DISTINCT {a[0]})")
    _call("minDistinct", lambda a: f"min({a[0]})")
    _call("maxDistinct", lambda a: f"max({a[0]})")
    # OrNull array accessors: the base emissions already NULL on a miss
    # (try_element_at), so these are spelled aliases
    _call("arrayElementOrNull", lambda a: f"try_element_at({a[0]}, {a[1]})")
    _call(
        "arrayFirstOrNull",
        lambda a: f"try_element_at(filter({a[1]}, {a[0]}), 1)"
        if len(a) == 2 else _refuse("arrayFirstOrNull takes (λ, array)"),
    )
    _call(
        "arrayLastOrNull",
        lambda a: f"try_element_at(filter({a[1]}, {a[0]}), -1)"
        if len(a) == 2 else _refuse("arrayLastOrNull takes (λ, array)"),
    )
    # partial-sort: same deliberate full-sort instance as arrayPartialSort
    _call(
        "arrayPartialReverseSort",
        lambda a: f"reverse(array_sort({a[1]}))"
        if len(a) == 2 else _refuse(
            "arrayPartialReverseSort takes (limit, array)"),
    )
    _call(
        "toUUIDOrDefault",
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {a[0]} RLIKE '{_UUID_RE_SQL}' THEN lower({a[0]}) "
            f"ELSE {a[1]} END"
        ) if len(a) == 2 else _refuse("toUUIDOrDefault takes (s, default)"),
    )
    # bitmap subset operations over the distinct-array representation
    _call(
        "bitmapSubsetInRange",
        lambda a: (f"filter(array_distinct({a[0]}), __bs -> "
                   f"__bs >= ({a[1]}) AND __bs < ({a[2]}))")
        if len(a) == 3 else _refuse(
            "bitmapSubsetInRange takes (bitmap, start, end)"),
    )
    _call(
        "bitmapSubsetLimit",
        lambda a: (f"slice(array_sort(filter(array_distinct({a[0]}), "
                   f"__bs -> __bs >= ({a[1]}))), 1, CAST({a[2]} AS INT))")
        if len(a) == 3 else _refuse(
            "bitmapSubsetLimit takes (bitmap, start, limit)"),
    )
    _call(
        "subBitmap",
        lambda a: (f"slice(array_sort(array_distinct({a[0]})), "
                   f"CAST({a[1]} AS INT) + 1, CAST({a[2]} AS INT))")
        if len(a) == 3 else _refuse(
            "subBitmap takes (bitmap, offset, limit)"),
    )
    _call(
        "bitmapTransform",
        lambda a: (
            f"transform({a[0]}, __bt -> IF(array_position({a[1]}, __bt) "
            f"> 0, element_at({a[2]}, CAST(array_position({a[1]}, __bt) "
            f"AS INT)), __bt))"
        ) if len(a) == 3 else _refuse(
            "bitmapTransform takes (bitmap, from_array, to_array)"),
    )
    _call(
        "countSubstringsCaseInsensitiveUTF8",
        lambda a: f"countSubstringsCaseInsensitive({', '.join(a)})")
    _call(
        "multiSearchAllPositionsUTF8",
        lambda a: f"multiSearchAllPositions({', '.join(a)})")
    _call("sigmoid", lambda a: f"(1.0 / (1.0 + exp(-CAST({a[0]} AS DOUBLE))))")
    _call("toDate32OrNull", lambda a: f"try_cast({a[0]} AS DATE)")
    _call(
        "toDate32OrZero",
        # Date32's zero point is its range minimum, 1900-01-01
        lambda a: f"coalesce(try_cast({a[0]} AS DATE), DATE '1900-01-01')",
    )
    # N-ary array set ops: union dedupes; symmetric difference = the
    # elements NOT present in all arrays (union minus intersection)
    _call(
        "arrayUnion",
        lambda a: _fold_binary("array_union", a) if len(a) >= 2
        else _refuse("arrayUnion needs at least 2 arrays"),
    )
    _call(
        "arraySymmetricDifference",
        lambda a: (
            f"array_except({_fold_binary('array_union', a)}, "
            f"{_fold_binary('array_intersect', a)})"
        ) if len(a) >= 2
        else _refuse("arraySymmetricDifference needs at least 2 arrays"),
    )
    # Twitter snowflake epoch = 1288834974657 ms; id >> 22 is the ms offset
    _call(
        "snowflakeToDateTime",
        lambda a: (
            f"timestamp_millis(shiftright(CAST({a[0]} AS BIGINT), 22) "
            "+ 1288834974657)"
            if len(a) == 1
            else _refuse(
                "snowflakeToDateTime with an explicit timezone (Spark uses "
                "the single session timezone — drop the second argument)"
            )
        ),
    )
    _call(
        "dateTimeToSnowflake",
        lambda a: f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)",
    )
    # CH randCanonical() is the [0, 1) double; emitted as random() (the
    # Spark alias) so the rand() UInt32 rewrite below can never re-match
    # it on argument re-traversal
    _call("randCanonical", lambda a: "random()")
    # CH rand() returns a UInt32 (users mod it: rand() % N); Spark's
    # rand() is a double in [0, 1) — scale up or the modulo silently
    # degenerates.  A CH dummy-seed argument is ignored, as in CH.
    # rand64 would need 64 random bits (a double holds 53): typed
    # refusal instead of a silently-biased scale-up.
    _call("rand", lambda a: "CAST(floor(random() * 4294967296) AS BIGINT)")
    _call(
        "rand64",
        lambda a: _refuse(
            "rand64() (a double has 53 random bits, not 64) — use rand()"
            " (UInt32) or randCanonical() ([0,1) double)"
        ),
    )
    # CH greatest/least return NULL when ANY argument is NULL; Spark's
    # skip nulls and return the largest/smallest non-null
    # emitted via array_max/array_min, NOT greatest/least: a replacement
    # containing the scanned name mid-string would re-match forever
    for gl, arr_fn in (("greatest", "array_max"), ("least", "array_min")):
        _call(
            gl,
            lambda a, f=arr_fn, g=gl: (
                "IF(" + " OR ".join(f"({x}) IS NULL" for x in a)
                + f", NULL, {f}(array({', '.join(a)})))"
                if len(a) >= 2
                else _refuse(f"{g} needs at least 2 arguments")
            ),
        )
    _call("randNormal", lambda a: f"(({a[0]}) + ({a[1]}) * randn())")
    _call("randBernoulli", lambda a: f"CAST(random() < ({a[0]}) AS BIGINT)")
    # toTime: keep time-of-day, pin the date to 1970-01-02 (CH contract);
    # pmod keeps pre-1970 timestamps on the positive side
    _call(
        "toTime",
        lambda a: (
            f"timestamp_micros(86400000000 + "
            f"pmod(unix_micros({a[0]}), 86400000000))"
        ),
    )
    for tzf in ("timezone", "serverTimezone", "timeZoneOf", "timezoneOf"):
        _call(tzf, lambda a: "current_timezone()")
    _call("nowInBlock", lambda a: "current_timestamp()")
    _call("identity", lambda a: f"({a[0]})")
    _call("materialize", lambda a: f"({a[0]})")
    _call("ignore", lambda a: "0")
    _call(
        "throwIf",
        # IF evaluates lazily under ANSI, so the error only fires when the
        # condition holds; CH returns 0 otherwise
        # CAST AS BOOLEAN accepts CH's numeric conditions too (nonzero →
        # true); Spark IF does not coerce INT to BOOLEAN by itself
        lambda a: (
            f"IF(CAST(({a[0]}) AS BOOLEAN), CAST(raise_error("
            + (a[1] if len(a) > 1
               else "'Value passed to throwIf function is non-zero'")
            + ") AS INT), 0)"
        ),
    )
    _call("sumKahan", lambda a: f"sum({a[0]})")
    _call("timeSlots", _time_slots)
    # groupConcat: simple groupConcat(x) and the parameterized
    # groupConcat('sep'[, limit])(x) combinator form.  Concatenation order
    # is engine-dependent in BOTH engines (CH reads blocks in arrival
    # order; collect_list is partition-order-dependent) — results are only
    # stable under a deterministic upstream ORDER BY.
    def _group_concat_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "groupConcat")
            if at < 0:
                break
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            g1 = [
                _translate_functions(x).strip()
                for x in _split_args(sql[open1 + 1 : end1 - 1])
            ]
            if rest.startswith("("):  # parameterized (sep[, limit])(x)
                if len(g1) > 1:
                    raise ChTranslationError(
                        "groupConcat(sep, limit)(x): the element limit has no "
                        "Spark aggregate form — slice after collect_list instead"
                    )
                open2 = end1 + (len(sql[end1:]) - len(rest))
                end2 = _balanced(sql, open2)
                x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
                sep = g1[0] if g1 else "''"
                sql = (
                    sql[:at] + f"array_join(collect_list({x}), {sep})" + sql[end2:]
                )
            else:
                if len(g1) != 1:
                    raise ChTranslationError(
                        "groupConcat takes one expression (delimiter goes in "
                        "the parameter group: groupConcat('sep')(x))"
                    )
                sql = (
                    sql[:at]
                    + f"array_join(collect_list({g1[0]}), '')"
                    + sql[end1:]
                )
        return sql

    _on("groupConcat", _group_concat_pass)
    # maps
    _call("mapKeys", lambda a: f"map_keys({a[0]})")
    _call("mapValues", lambda a: f"map_values({a[0]})")
    _call("mapContains", lambda a: f"map_contains_key({a[0]}, {a[1]})")
    # calendar names and relative-epoch unit counters
    _call("monthName", lambda a: f"date_format({a[0]}, 'MMMM')")
    _call("dateName", _date_name)
    _call("toStartOfWeek", _to_start_of_week)
    for ch, secs in [
        ("toRelativeSecondNum", 1),
        ("toRelativeMinuteNum", 60),
        ("toRelativeHourNum", 3600),
        ("toRelativeDayNum", 86400),
    ]:
        _call(
            ch,
            lambda a, s=secs: f"CAST(floor(unix_timestamp({a[0]}) / {s}) AS BIGINT)",
        )
    _call("greatCircleDistance", _great_circle)
    # geoDistance: CH corrects for the ellipsoid (~0.3% vs the sphere);
    # mapped to the same haversine — documented delta, not a wrong shape
    _call("geoDistance", _great_circle)
    _call("transform", _transform_value_map)
    # text tokenization / search
    _call(
        "alphaTokens",
        lambda a: f"filter(split({a[0]}, '[^A-Za-z]+'), __x -> __x != '')",
    )
    _call(
        "multiSearchAny",
        lambda a: f"exists({a[1]}, __p -> contains({a[0]}, __p))",
    )
    _call("extractGroups", _extract_groups)
    _call(
        "isValidJSON",
        lambda a: f"(get_json_object({a[0]}, '$') IS NOT NULL)",
    )
    # time arithmetic
    _call("age", _age)
    _call(
        "timeDiff",
        lambda a: f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))",
    )
    _call(
        "toModifiedJulianDay",
        lambda a: f"datediff(CAST({a[0]} AS DATE), DATE '1858-11-17')",
    )
    # array utilities
    _call("arrayEnumerateDense", _array_enumerate_dense)
    _call("arrayRotateLeft", _array_rotate_left)
    # IP / UUID conversions (CH's dedicated types come back as their
    # canonical STRING forms — the reference itself maps them from string
    # metrics, model/value.go:232-234 / parser/fastjson.go:739-785)
    _call(
        "toIPv4OrNull",
        lambda a: f"CASE WHEN {a[0]} RLIKE '{_IPV4_RE_SQL}' THEN {a[0]} END",
    )
    _call(
        "toUUIDOrNull",
        lambda a: (
            f"CASE WHEN {a[0]} RLIKE "
            + "'^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
            + "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$' "
            + f"THEN lower({a[0]}) END"
        ),
    )
    _call("IPv4NumToString", lambda a: _ipv4_num_to_string(a[0]))
    _call("IPv4StringToNum", _ipv4_string_to_num)
    _call("IPv4CIDRToRange", _ipv4_cidr_to_range)
    _call("MACNumToString", _mac_num_to_string)
    _call("MACStringToNum", _mac_string_to_num)
    _call("bitmaskToList", _bitmask_to_list)
    _call("mapApply", _map_apply)
    _call(
        "maxIntersectionsPosition",
        lambda a: _max_intersections(a, position=True),
    )
    _call("maxIntersections", lambda a: _max_intersections(a, position=False))
    # sample moments from the population builtins: m3c/svar^1.5 and
    # m4c/svar^2 where svar = n/(n-1)·pvar — so the sample forms are the
    # population forms scaled by ((n-1)/n)^{3/2} and ((n-1)/n)^2
    _call(
        "skewSamp",
        lambda a: (
            f"(skewness({a[0]}) * pow((count({a[0]}) - 1) "
            f"/ CAST(count({a[0]}) AS DOUBLE), 1.5))"
        ),
    )
    _call(
        "kurtSamp",
        lambda a: (
            f"((kurtosis({a[0]}) + 3) * pow((count({a[0]}) - 1) "
            f"/ CAST(count({a[0]}) AS DOUBLE), 2))"
        ),
    )
    _call("extractAll", _extract_all)
    _call(
        "extractURLParameter",
        lambda a: f"coalesce(try_parse_url({a[0]}, 'QUERY', {a[1]}), '')",
    )
    _call("base64Decode", lambda a: f"CAST(unbase64({a[0]}) AS STRING)")
    # float classification
    _call("isNaN", lambda a: f"isnan({a[0]})")
    _call(
        "isInfinite",
        lambda a: f"(abs({a[0]}) = CAST('Infinity' AS DOUBLE))",
    )
    _call(
        "isFinite",
        lambda a: f"(NOT isnan({a[0]}) AND abs({a[0]}) <> CAST('Infinity' AS DOUBLE))",
    )
    _call(
        "ifNotFinite",
        lambda a: (
            f"(CASE WHEN isnan({a[0]}) OR abs({a[0]}) = CAST('Infinity' AS DOUBLE)"
            f" THEN {a[1]} ELSE {a[0]} END)"
        ),
    )
    _call(
        "positionCaseInsensitive",
        lambda a: f"locate(lower({a[1]}), lower({a[0]}))",
    )
    _call(
        "countMatches",
        lambda a: f"size(regexp_extract_all({a[0]}, {a[1]}, 0))",
    )
    _call(
        "countSubstrings",
        lambda a: (
            f"(CASE WHEN length({a[1]}) = 0 THEN 0 ELSE "
            f"CAST((length({a[0]}) - length(replace({a[0]}, {a[1]}, ''))) "
            f"/ length({a[1]}) AS BIGINT) END)"
        ),
    )
    # more array helpers
    _call("arrayPushBack", lambda a: f"concat({a[0]}, array({a[1]}))")
    _call("arrayPushFront", lambda a: f"concat(array({a[1]}), {a[0]})")
    _call(
        "arrayPopBack", lambda a: f"slice({a[0]}, 1, GREATEST(size({a[0]}) - 1, 0))"
    )
    _call(
        "arrayPopFront",
        lambda a: f"slice({a[0]}, 2, GREATEST(size({a[0]}) - 1, 0))",
    )
    _call("arrayUniq", lambda a: f"size(array_distinct({a[0]}))")
    _call(
        "countEqual",
        lambda a: f"size(filter({a[0]}, __ce -> __ce = {a[1]}))",
    )
    _call("arrayAvg", _array_avg)
    _call("arrayDifference", _array_difference)
    _call("range", _range_seq)
    # numbers()/numbers_mt() table function → Spark's range() TABLE
    # function with the column renamed to CH's `number` (placed AFTER
    # the scalar range() rewrite so the emission survives verbatim)
    for _nb in ("numbers", "numbers_mt"):
        _call(
            _nb,
            lambda a, n=_nb: (
                f"(SELECT id AS number FROM range({a[0]}))"
                if len(a) == 1 else
                f"(SELECT id AS number FROM range({a[0]}, "
                f"({a[0]}) + ({a[1]})))"
                if len(a) == 2 else
                _refuse(f"{n} takes (count) or (offset, count)")
            ),
        )
    # weighted mean: sum(x·w)/sum(w); try_divide → NULL on zero weight
    # (never an ANSI runtime error)
    _call(
        "avgWeighted",
        lambda a: f"try_divide(sum(({a[0]}) * ({a[1]})), sum({a[1]}))",
    )
    # argMin/argMax -If combinators (CH's most-used conditional arg aggs)
    _call(
        "argMaxIf",
        lambda a: f"max_by({a[0]}, {a[1]}) FILTER (WHERE {a[2]})",
    )
    _call(
        "argMinIf",
        lambda a: f"min_by({a[0]}, {a[1]}) FILTER (WHERE {a[2]})",
    )
    # arrayFirst/arrayLast/arrayFirstIndex: CH lambda-first order
    _call(
        "arrayFirstIndex",
        lambda a: (
            f"coalesce(array_position(transform({a[1]}, {a[0]}), true), 0)"
        ),
    )
    _call("arrayFirst", lambda a: f"try_element_at(filter({a[1]}, {a[0]}), 1)")
    _call("arrayLast", lambda a: f"try_element_at(filter({a[1]}, {a[0]}), -1)")
    _call("toDate32", lambda a: f"CAST({a[0]} AS DATE)")
    # --- batch 3: silent-passthrough sweep (names that would otherwise
    # reach Spark's parser as unresolved routines) ---
    _call("toRelativeYearNum", lambda a: f"year({a[0]})")
    _call(
        "toRelativeQuarterNum",
        lambda a: f"(year({a[0]}) * 4 + quarter({a[0]}) - 1)",
    )
    _call(
        "toRelativeMonthNum",
        lambda a: f"(year({a[0]}) * 12 + month({a[0]}))",
    )
    _call("today", lambda a: "current_date()")
    _call("yesterday", lambda a: "date_sub(current_date(), 1)")
    _call(
        "now64",
        # Spark timestamps are µs; CH precisions > 6 are unrepresentable
        lambda a: "current_timestamp()",
    )
    _call("dateTrunc", lambda a: f"date_trunc({a[0]}, {a[1]})")
    _call(
        "fromModifiedJulianDay",
        lambda a: f"date_add(DATE '1858-11-17', CAST({a[0]} AS INT))",
    )
    _call(
        "arrayLastIndex",
        # CH lambda-first order; last matching 1-based index, 0 if none
        lambda a: (
            f"coalesce(array_max(filter(transform(transform({a[1]}, {a[0]}), "
            f"(__ali, __aj) -> IF(__ali, __aj + 1, 0)), __ak -> __ak > 0)), 0)"
        ),
    )
    _call(
        "arrayElement",
        # same emission as the [k] subscript rewrite (negative k from the
        # end); CH's out-of-range → type default becomes NULL/error (noted
        # delta shared with the bracket form)
        lambda a: f"element_at({a[0]}, {a[1]})",
    )
    _call("hasSubstr", _has_substr)
    _call(
        "bitTestAll",
        lambda a: ("(" + " AND ".join(
            f"(shiftright({a[0]}, {b}) & 1) = 1" for b in a[1:]
        ) + ")") if len(a) >= 2
        else _refuse("bitTestAll needs (n, bit, …)"),
    )
    _call(
        "bitTestAny",
        lambda a: ("(" + " OR ".join(
            f"(shiftright({a[0]}, {b}) & 1) = 1" for b in a[1:]
        ) + ")") if len(a) >= 2
        else _refuse("bitTestAny needs (n, bit, …)"),
    )
    # UTF8-suffixed string forms: Spark strings are code-point native, so
    # the plain builtins ARE the UTF8 semantics
    _call("leftUTF8", lambda a: f"left({a[0]}, {a[1]})")
    _call("rightUTF8", lambda a: f"right({a[0]}, {a[1]})")
    _call("leftPadUTF8", lambda a: f"lpad({', '.join(a)})")
    _call("rightPadUTF8", lambda a: f"rpad({', '.join(a)})")
    _call(
        "positionUTF8",
        # locate (not instr): the later instr→positionCaseInsensitive
        # alias pass must never see this case-SENSITIVE form (it ran
        # after by ordering accident before; now structurally immune)
        lambda a: f"locate({a[1]}, {a[0]})" if len(a) == 2
        else f"locate({a[1]}, {a[0]}, {a[2]})",
    )
    _call("multiSearchFirstPosition", _multi_search_first_position)
    _call("multiSearchFirstIndex", _multi_search_first_index)
    _call(
        "multiSearchAllPositions",
        lambda a: f"transform({a[1]}, __msn -> locate(__msn, {a[0]}))",
    )
    _call(
        "countSubstringsCaseInsensitive",
        # all lengths measured on the LOWERED strings (case folding can
        # change code-point counts, e.g. İ)
        lambda a: (
            f"(CASE WHEN length(lower({a[1]})) = 0 THEN 0 ELSE "
            f"CAST((length(lower({a[0]})) - length(replace(lower({a[0]}), "
            f"lower({a[1]}), ''))) / length(lower({a[1]})) AS BIGINT) END)"
        ),
    )
    # Spark strings cannot hold invalid UTF-8 — already valid by type
    _call("toValidUTF8", lambda a: f"({a[0]})")
    _call(
        "splitByWhitespace",
        lambda a: f"filter(split({a[0]}, '\\\\s+'), __sw -> __sw != '')",
    )
    _call(
        "tryBase64Decode",
        # CH: '' on malformed input — validate the alphabet/padding first
        # (Spark unbase64 is lenient and would emit garbage bytes)
        lambda a: (
            f"CASE WHEN {a[0]} RLIKE '^[A-Za-z0-9+/]*={{0,2}}$' "
            f"AND length({a[0]}) % 4 = 0 "
            f"THEN CAST(unbase64({a[0]}) AS STRING) ELSE '' END"
        ),
    )
    _call(
        "regexpExtract",
        # 2-arg form: first group if the literal pattern has one, else
        # the whole match (same smart default as CH extract())
        lambda a: _extract_regex(a) if len(a) == 2
        else f"regexp_extract({', '.join(a)})",
    )
    _call(
        "regexpQuoteMeta",
        # CH's documented escape set: backslash | ( ) ^ $ . [ ] ? * + { : -
        # ('}' is NOT escaped by CH); '-' sits last in the class
        lambda a: (
            f"regexp_replace({a[0]}, "
            "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1')"
        ),
    )
    _call("translateUTF8", lambda a: f"translate({', '.join(a)})")
    _call(
        "mapContainsKeyLike",
        lambda a: f"exists(map_keys({a[0]}), __mk -> __mk LIKE {a[1]})",
    )
    _call(
        "mapExtractKeyLike",
        lambda a: f"map_filter({a[0]}, (__mk, __mv) -> __mk LIKE {a[1]})",
    )
    # -Stable aggregate variants: same math, numerically-stable algorithm
    # (Spark's single-pass moment aggregates are already the stable form)
    for ch_stable, spark_agg in (
        ("corrStable", "corr"),
        ("covarPopStable", "covar_pop"),
        ("covarSampStable", "covar_samp"),
        ("varPopStable", "var_pop"),
        ("varSampStable", "var_samp"),
        ("stddevPopStable", "stddev_pop"),
        ("stddevSampStable", "stddev_samp"),
    ):
        _call(ch_stable, lambda a, s=spark_agg: f"{s}({', '.join(a)})")
    _call(
        "greatCircleAngle",
        # central angle in degrees: the haversine arc without the radius
        lambda a: (
            f"degrees(2 * asin(sqrt("
            f"pow(sin(radians(({a[3]}) - ({a[1]})) / 2), 2) + "
            f"cos(radians({a[1]})) * cos(radians({a[3]})) * "
            f"pow(sin(radians(({a[2]}) - ({a[0]})) / 2), 2))))"
        ),
    )
    _call("roundAge", _round_age)
    _call("roundDuration", _round_duration)
    _call("truncate", _truncate_scale)
    # bare trunc is the same CH function; Spark's trunc() is DATE-only,
    # so the passthrough broke numeric args (r9)
    _call("trunc", _truncate_scale)
    _call("caseWithExpr", _case_with_expression)
    _call("currentDatabase", lambda a: "current_database()")
    _call("currentUser", lambda a: "current_user()")
    _call("dotProduct", _dot_product)
    for norm_kind in ("L1", "L2", "Linf"):
        _call(f"{norm_kind}Norm", lambda a, k=norm_kind: _vector_norm(a, k))
        _call(
            f"{norm_kind}Distance",
            lambda a, k=norm_kind: _vector_distance(a, k),
        )
    _call("L2SquaredDistance", lambda a: _vector_distance(a, "L2Squared"))
    _call("cosineDistance", _cosine_distance)
    # Lp-prefixed alias spellings route to the normalize/norm family
    _call("L1Normalize", lambda a: _normalize_vec(a, "L1"))
    _call("L2Normalize", lambda a: _normalize_vec(a, "L2"))
    _call("normalizeL1", lambda a: _normalize_vec(a, "L1"))
    _call("normalizeL2", lambda a: _normalize_vec(a, "L2"))
    _call(
        "arrayJaccardIndex",
        lambda a: (
            f"(size(array_intersect({a[0]}, {a[1]})) "
            f"/ CAST(size(array_union({a[0]}, {a[1]})) AS DOUBLE))"
        ),
    )
    _call(
        "arrayPartialSort",
        # CH sorts the first N and leaves the tail in UNSPECIFIED order —
        # a full sort is a valid (and deterministic) instance of that
        lambda a: f"array_sort({a[1]})",
    )
    # --- sweep tranche 2 ---
    _call("toISOYear", _to_iso_year)
    _call("toStartOfISOYear", _to_start_of_iso_year)
    _call(
        "toDaysSinceYearZero",
        # proleptic-Gregorian day count: 1970-01-01 is day 719528 (CH pin)
        lambda a: f"(datediff(CAST({a[0]} AS DATE), DATE '1970-01-01') + 719528)",
    )
    _call(
        "fromDaysSinceYearZero",
        lambda a: f"date_add(DATE '1970-01-01', CAST(({a[0]}) - 719528 AS INT))",
    )
    _call(
        "toLastDayOfWeek",
        # start-of-week + 6, inheriting toStartOfWeek's mode handling
        lambda a: f"date_add({_to_start_of_week(a)}, 6)",
    )
    _call("makeDate32", lambda a: f"make_date({', '.join(a)})")
    _call("makeDate", lambda a: f"make_date({', '.join(a)})")
    def _make_dt64(a):
        # (y,m,d,h,mi,s[,fraction[,precision]]) — fraction folds into the
        # seconds argument exactly via integer-over-power division;
        # precision must be a literal ≤ 6 (µs); timezone forms refused
        if len(a) < 6:
            return _refuse("makeDateTime64 needs at least (y, m, d, h, mi, s)")
        if len(a) == 6:
            return f"make_timestamp({', '.join(a)})"
        if len(a) in (7, 8):
            prec = 3
            if len(a) == 8:
                ps = a[7].strip()
                if not ps.isdigit() or int(ps) > 6:
                    return _refuse(
                        "makeDateTime64 precision must be a literal 0-6 "
                        "(Spark timestamps are microseconds)"
                    )
                prec = int(ps)
            sec = (
                f"(CAST({a[5]} AS DECIMAL(20, 6)) "
                f"+ CAST({a[6]} AS DECIMAL(20, 6)) / {10 ** prec})"
            )
            return f"make_timestamp({', '.join(a[:5])}, {sec})"
        return _refuse(
            "makeDateTime64 with a timezone argument (Spark uses the "
            "single session timezone)"
        )

    _call("makeDateTime64", _make_dt64)
    _call("makeDateTime", lambda a: f"make_timestamp({', '.join(a)})")
    _call(
        "YYYYMMDDToDate",
        lambda a: (
            f"try_to_date(CAST(CAST({a[0]} AS BIGINT) AS STRING), 'yyyyMMdd')"
        ),
    )
    _call(
        "YYYYMMDDhhmmssToDateTime",
        lambda a: (
            f"try_to_timestamp(CAST(CAST({a[0]} AS BIGINT) AS STRING), "
            f"'yyyyMMddHHmmss')"
        ),
    )
    _call("timestampSub", lambda a: f"timestampadd({a[0]}, -({a[1]}), {a[2]})")
    _call(
        "sumCount",
        # CH's (sum, count) tuple in the repo's tuple shape
        lambda a: (
            f"named_struct('_1', sum({a[0]}), '_2', count({a[0]}))"
        ),
    )
    _call("arrayDotProduct", _dot_product)
    _call("arrayCumSumNonNegative", _array_cumsum_nonneg)
    _call("arrayShingles", _array_shingles)
    _call("arrayEnumerateUniq", _array_enumerate_uniq)
    _call("arrayReverseFill", lambda a: _array_fill(a, True))
    _call("arrayFill", lambda a: _array_fill(a, False))
    _call("isIPAddressInRange", _ip_in_range)

    def _initcap_ch(a):
        # CH words are ALPHANUMERIC runs — a letter after ANY
        # non-alphanumeric char capitalizes ('foo-bar' → 'Foo-Bar'),
        # where Spark's initcap splits on whitespace only; per-char
        # transform with a previous-char class probe
        if len(a) != 1:
            raise ChTranslationError("initcap takes exactly 1 argument")
        return _bind_arr(
            f"split({a[0]}, '')",
            lambda c: (
                f"array_join(transform({c}, (__ic, __ii) -> "
                f"CASE WHEN __ii = 0 OR NOT (element_at({c}, __ii) "
                f"RLIKE '^[0-9A-Za-z]$') THEN upper(__ic) "
                f"ELSE lower(__ic) END), '')"
            ),
        )

    _call("initcapUTF8", _initcap_ch)
    _call("initcap", _initcap_ch)
    _call("positiveModulo", lambda a: f"pmod({a[0]}, {a[1]})")
    _call(
        "bitmaskToArray",
        lambda a: (
            f"CASE WHEN CAST({a[0]} AS BIGINT) < 0 THEN "
            f"CAST(raise_error('bitmaskToArray: negative input') "
            f"AS ARRAY<BIGINT>) ELSE "
            f"filter(transform(sequence(0, 62), __i -> "
            f"shiftleft(CAST(1 AS BIGINT), CAST(__i AS INT))), "
            f"__p -> (CAST({a[0]} AS BIGINT) & __p) <> 0) END"
        ),
    )
    _call(
        "bitPositionsToArray",
        lambda a: (
            f"CASE WHEN CAST({a[0]} AS BIGINT) < 0 THEN "
            f"CAST(raise_error('bitPositionsToArray: negative input') "
            f"AS ARRAY<INT>) ELSE "
            f"filter(sequence(0, 62), __i -> "
            f"(shiftright(CAST({a[0]} AS BIGINT), CAST(__i AS INT)) & 1) = 1) "
            f"END"
        ),
    )
    for dec_name, dec_p in (("toDecimal32", 9), ("toDecimal64", 18),
                            ("toDecimal128", 38)):
        _call(
            dec_name,
            lambda a, p=dec_p: (
                f"CAST({a[0]} AS DECIMAL({p}, {a[1].strip()}))"
            ),
        )
    _call("widthBucket", lambda a: f"width_bucket({', '.join(a)})")
    _call("editDistanceUTF8", lambda a: f"levenshtein({a[0]}, {a[1]})")
    _call("mapExists", lambda a: _map_pred(a, "exists", "mapExists"))
    _call("mapAll", lambda a: _map_pred(a, "forall", "mapAll"))
    _call("isZeroOrNull", lambda a: f"(({a[0]}) = 0 OR ({a[0]}) IS NULL)")
    # --- sweep tranche 4: datetime parse/format aliases ---
    _call("parseDateTimeOrNull", lambda a: _parse_datetime(a, "null"))
    _call("parseDateTimeOrZero", lambda a: _parse_datetime(a, "zero"))
    # Joda patterns coincide with Spark's java.time patterns on the
    # common letters (yyyy MM dd HH mm ss SSS EEE MMM) — passed through
    _call(
        "parseDateTimeInJodaSyntaxOrNull",
        lambda a: f"try_to_timestamp({a[0]}, {a[1]})",
    )
    _call(
        "parseDateTimeInJodaSyntaxOrZero",
        lambda a: (
            f"coalesce(try_to_timestamp({a[0]}, {a[1]}), "
            f"TIMESTAMP '1970-01-01 00:00:00')"
        ),
    )
    _call(
        "parseDateTimeInJodaSyntax",
        lambda a: f"to_timestamp({a[0]}, {a[1]})",
    )
    _call(
        "formatDateTimeInJodaSyntax",
        lambda a: f"date_format({a[0]}, {a[1]})",
    )
    _call("parseDateTime", lambda a: _parse_datetime(a, "throw"))

    def _add_sub_date(a, sign):
        if len(a) != 2:
            raise ChTranslationError("addDate/subDate take (date, interval|days)")
        if re.match(r"(?is)^\s*INTERVAL\b", a[1]):
            return f"(({a[0]}) {sign} ({a[1]}))"
        fn = "date_add" if sign == "+" else "date_sub"
        return f"{fn}({a[0]}, CAST({a[1]} AS INT))"

    _call("addDate", lambda a: _add_sub_date(a, "+"))
    _call("subDate", lambda a: _add_sub_date(a, "-"))
    # dateAdd 3-arg resolves to Spark's own dateadd(unit, n, d); the
    # 2-arg INTERVAL form and dateSub (no Spark twin) need rewrites
    _call(
        "dateAdd",
        lambda a: f"(({a[0]}) + ({a[1]}))"
        if len(a) == 2 and re.match(r"(?is)^\s*INTERVAL\b", a[1])
        else f"dateAdd({', '.join(a)})",
    )
    _call(
        "dateSub",
        lambda a: f"(({a[0]}) - ({a[1]}))"
        if len(a) == 2 and re.match(r"(?is)^\s*INTERVAL\b", a[1])
        else (
            f"timestampadd({a[0]}, -({a[1]}), {a[2]})"
            if len(a) == 3
            else _refuse("dateSub takes (unit, n, date) or (date, INTERVAL …)")
        ),
    )
    _call(
        "splitByNonAlpha",
        lambda a: f"filter(split({a[0]}, '[^0-9A-Za-z]+'), __sn -> __sn != '')",
    )
    # tokens(s) = CH's default tokenizer (split at non-alphanumeric runs,
    # empties dropped) — identical to splitByNonAlpha; the 2-arg
    # tokenizer-mode form ('ngram'/'split'/'no_op') refuses (r9)
    _call(
        "tokens",
        lambda a: (
            f"filter(split({a[0]}, '[^0-9A-Za-z]+'), __tk -> __tk != '')"
            if len(a) == 1
            else _refuse(
                "tokens(s, tokenizer, …) modes are CH-version-dependent —"
                " only the default 1-arg tokenizer translates"
            )
        ),
    )
    # ngrams(s, n): character n-grams over codepoints (Spark substring is
    # codepoint-based like CH's UTF-8 walk); shorter-than-n → [] like CH
    _call(
        "ngrams",
        lambda a: (
            f"(CASE WHEN length({a[0]}) >= ({a[1]}) THEN "
            f"transform(sequence(1, length({a[0]}) - ({a[1]}) + 1), "
            f"__ng -> substring({a[0]}, __ng, {a[1]})) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END)"
            if len(a) == 2 else _refuse("ngrams takes (string, n)")
        ),
    )
    # --- late-r9 sweep: names that previously reached Spark as
    # unresolved routines (loud, but untranslated) ---
    _call("characterLength", lambda a: f"char_length({a[0]})")
    _call("startsWithUTF8", lambda a: f"startswith({a[0]}, {a[1]})")
    _call("endsWithUTF8", lambda a: f"endswith({a[0]}, {a[1]})")
    # max2/min2 return Float64 in CH and propagate any NULL (Spark's
    # greatest/least SKIP nulls, so the IF guard is load-bearing)
    for _m2, _gf in (("max2", "greatest"), ("min2", "least")):
        _call(
            _m2,
            lambda a, f=_gf, n=_m2: (
                f"IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
                f"CAST(NULL AS DOUBLE), "
                f"{f}(CAST({a[0]} AS DOUBLE), CAST({a[1]} AS DOUBLE)))"
            ) if len(a) == 2 else _refuse(f"{n} takes exactly 2 args"),
        )
    _call("notLike", lambda a: f"(NOT (({a[0]}) LIKE ({a[1]})))")
    _call("notILike", lambda a: f"(NOT (lower({a[0]}) LIKE lower({a[1]})))")
    # toJSONString: Spark's to_json covers CH's struct/map/array cases;
    # scalar arguments fail loudly at analysis (a documented delta —
    # CH also serializes scalars)
    _call("toJSONString", lambda a: f"to_json({a[0]})")
    _call("JSONArrayLength", lambda a: f"json_array_length({a[0]})")
    # vector-norm tail: normalizeLinf and the generic LpNorm
    _call(
        "normalizeLinf",
        lambda a: (
            f"element_at(transform(array(named_struct('a', {a[0]}, 'n', "
            f"array_max(transform({a[0]}, __vx -> abs(CAST(__vx AS "
            f"DOUBLE)))))), __nl -> transform(__nl.a, __vx -> "
            f"CAST(__vx AS DOUBLE) / __nl.n)), 1)"
        ),
    )
    _call(
        "LinfNormalize",
        lambda a: (
            f"element_at(transform(array(named_struct('a', {a[0]}, 'n', "
            f"array_max(transform({a[0]}, __vx -> abs(CAST(__vx AS "
            f"DOUBLE)))))), __nl -> transform(__nl.a, __vx -> "
            f"CAST(__vx AS DOUBLE) / __nl.n)), 1)"
        ),
    )
    _call(
        "LpDistance",
        lambda a: (
            f"power(aggregate(zip_with({a[0]}, {a[1]}, (__da, __db) -> "
            f"power(abs(CAST(__da AS DOUBLE) - CAST(__db AS DOUBLE)), "
            f"{a[2]})), CAST(0 AS DOUBLE), (__lp, __vx) -> __lp + __vx), "
            f"1.0 / ({a[2]}))"
        ) if len(a) == 3 else _refuse("LpDistance takes (v1, v2, p)"),
    )
    _call(
        "arrayRotateRight",
        lambda a: _array_rotate_left([a[0], f"-({a[1]})"])
        if len(a) == 2 else _refuse("arrayRotateRight needs (array, n)"),
    )
    # parseTimeDelta / decode[HTML|XML]Component / RIPEMD160 — Arrow
    # scalars (unit grammar, WHATWG entity table, OpenSSL digest)
    _call("parseTimeDelta", lambda a: f"ch_parse_time_delta({a[0]})")
    _call("decodeHTMLComponent", lambda a: f"ch_decode_html({a[0]})")
    _call("decodeXMLComponent", lambda a: f"ch_decode_xml({a[0]})")
    # encodeXMLComponent: the five predefined XML entities, & first —
    # pure JVM replace chain
    _call(
        "encodeXMLComponent",
        lambda a: (
            f"replace(replace(replace(replace(replace({a[0]}, "
            f"'&', '&amp;'), '<', '&lt;'), '>', '&gt;'), "
            f"'\"', '&quot;'), '''', '&apos;')"
        ),
    )
    _call("RIPEMD160", _crc_fn("RIPEMD160", "ch_ripemd160"))
    # MD4 (r10, previously refused): rides OpenSSL's LEGACY provider —
    # same string-only argument contract as the other digests; raw 16
    # bytes so hex(MD4(s)) composes like the MD5 family
    _call("MD4", _crc_fn("MD4", "ch_md4"))
    # extractKeyValuePairs: the DEFAULT grammar only (':' key-value
    # delimiter, ' ,;' pair delimiters); custom delimiters / quoting
    # refuse — CH's state machine also honors quoting, a documented
    # delta for values containing the delimiters
    _call(
        "extractKeyValuePairs",
        lambda a: (
            f"map_from_entries(transform(filter(transform("
            f"split({a[0]}, '[ ,;]+'), __kv -> split(__kv, ':', 2)), "
            f"__kv -> size(__kv) = 2 AND __kv[0] != ''), "
            f"__kv -> struct(__kv[0] AS key, __kv[1] AS value)))"
        ) if len(a) == 1 else _refuse(
            "extractKeyValuePairs with custom delimiters/quoting — only"
            " the default grammar translates"
        ),
    )
    _call(
        "LpNorm",
        lambda a: (
            f"power(aggregate({a[0]}, CAST(0 AS DOUBLE), (__lp, __vx) -> "
            f"__lp + power(abs(CAST(__vx AS DOUBLE)), {a[1]})), "
            f"1.0 / ({a[1]}))"
        ) if len(a) == 2 else _refuse("LpNorm takes (vector, p)"),
    )
    # URL tail: netloc/port/queryStringAndFragment/cutWWW (same
    # ''-on-null conventions as the rest of the URL family)
    _call(
        "netloc",
        lambda a: f"coalesce(try_parse_url({a[0]}, 'AUTHORITY'), '')")
    _call(
        "port",
        lambda a: (
            f"CAST(coalesce(nullif(regexp_extract(coalesce(try_parse_url("
            f"{a[0]}, 'AUTHORITY'), ''), ':([0-9]+)$', 1), ''), "
            f"{a[1] if len(a) == 2 else '0'}) AS INT)"
        ) if len(a) in (1, 2) else _refuse("port takes (url[, default])"),
    )
    _call(
        "queryStringAndFragment",
        lambda a: (
            f"concat(coalesce(try_parse_url({a[0]}, 'QUERY'), ''), "
            f"IF(coalesce(try_parse_url({a[0]}, 'REF'), '') = '', '', "
            f"concat('#', try_parse_url({a[0]}, 'REF'))))"
        ),
    )
    _call(
        "cutWWW",
        lambda a: (
            f"regexp_replace({a[0]}, "
            f"'^([A-Za-z][A-Za-z0-9+.-]*://)?www\\\\.', '$1')"
        ),
    )
    # pointInEllipses: deterministic arithmetic, UInt8 result like CH
    _call(
        "pointInEllipses",
        lambda a: (
            "CAST((" + " OR ".join(
                f"(power((CAST({a[0]} AS DOUBLE) - ({a[2 + 4 * k]})) / "
                f"({a[4 + 4 * k]}), 2) + "
                f"power((CAST({a[1]} AS DOUBLE) - ({a[3 + 4 * k]})) / "
                f"({a[5 + 4 * k]}), 2)) <= 1.0"
                for k in range((len(a) - 2) // 4)
            ) + ") AS INT)"
        ) if len(a) >= 6 and (len(a) - 2) % 4 == 0 else _refuse(
            "pointInEllipses takes (x, y, x1, y1, a1, b1, …)"
        ),
    )
    # roaring-bitmap family as deterministic array-set algebra: a
    # "bitmap" is a distinct array, bitmapToArray sorts ascending like
    # CH.  The *state* aggregates (groupBitmapAnd/Or/Xor) stay refused.
    _call("bitmapBuild", lambda a: f"array_distinct({a[0]})")
    _call("bitmapToArray", lambda a: f"array_sort(array_distinct({a[0]}))")
    _call("bitmapCardinality", lambda a: f"size(array_distinct({a[0]}))")
    for _bn, _bf in (("bitmapAnd", "array_intersect"),
                     ("bitmapOr", "array_union"),
                     ("bitmapAndnot", "array_except")):
        _call(_bn, lambda a, f=_bf: f"{f}({a[0]}, {a[1]})")
        _call(
            _bn + "Cardinality",
            lambda a, f=_bf: f"size({f}({a[0]}, {a[1]}))")
    _call(
        "bitmapXor",
        lambda a: (f"array_union(array_except({a[0]}, {a[1]}), "
                   f"array_except({a[1]}, {a[0]}))"))
    _call(
        "bitmapXorCardinality",
        lambda a: (f"size(array_union(array_except({a[0]}, {a[1]}), "
                   f"array_except({a[1]}, {a[0]})))"))
    _call("bitmapContains", lambda a: f"array_contains({a[0]}, {a[1]})")
    _call(
        "bitmapHasAll",
        lambda a: f"forall({a[1]}, __bm -> array_contains({a[0]}, __bm))")
    _call("bitmapHasAny", lambda a: f"arrays_overlap({a[0]}, {a[1]})")
    # CH-docs empty-bitmap sentinels: min → UINT32_MAX, max → 0
    _call(
        "bitmapMin",
        lambda a: f"coalesce(array_min({a[0]}), CAST(4294967295 AS BIGINT))")
    _call(
        "bitmapMax",
        lambda a: f"coalesce(array_max({a[0]}), CAST(0 AS BIGINT))")
    # extractAllGroups forms (literal pattern so the group count is
    # static, same counting rule as extractGroups)
    _call(
        "extractAllGroupsHorizontal",
        lambda a: _extract_all_groups(a, "horizontal"))
    _call(
        "extractAllGroupsVertical",
        lambda a: _extract_all_groups(a, "vertical"))
    _call(
        "extractAllGroups",
        lambda a: _extract_all_groups(a, "vertical"))  # CH alias
    # byteHammingDistance/mismatches: differing bytes over the common
    # prefix + the length difference (CH docs convention; the classic
    # 'karolin'/'kathrin' = 3 example is pinned in tests)
    for _hn in ("byteHammingDistance", "mismatches"):
        _call(
            _hn,
            lambda a, n=_hn: (
                f"IF(({a[0]}) IS NULL OR ({a[1]}) IS NULL, "
                f"CAST(NULL AS BIGINT), "
                f"element_at(transform(array(named_struct("
                f"'ba', encode({a[0]}, 'UTF-8'), "
                f"'bb', encode({a[1]}, 'UTF-8'))), __bh -> "
                f"IF(least(octet_length(__bh.ba), octet_length(__bh.bb)) "
                f"= 0, CAST(0 AS BIGINT), "
                f"aggregate(sequence(1, least(octet_length(__bh.ba), "
                f"octet_length(__bh.bb))), CAST(0 AS BIGINT), "
                f"(__hc, __hi) -> __hc + IF(substring(__bh.ba, __hi, 1) "
                f"= substring(__bh.bb, __hi, 1), CAST(0 AS BIGINT), "
                f"CAST(1 AS BIGINT)))) "
                f"+ abs(octet_length(__bh.ba) - octet_length(__bh.bb))"
                f"), 1))"
            ) if len(a) == 2 else _refuse(f"{n} takes exactly 2 strings"),
        )
    # arrayShift with an EXPLICIT fill (the 2-arg form pads with the
    # element type's default, invisible at SQL level → refuses)
    _call("arrayShiftLeft", _array_shift_fn(True))
    _call("arrayShiftRight", _array_shift_fn(False))
    # decimal OrNull/OrZero tail (256-bit stays refused: > DECIMAL(38))
    for _dw, _dp in (("32", 9), ("64", 18), ("128", 38)):
        _call(
            f"toDecimal{_dw}OrNull",
            lambda a, p=_dp: (
                f"try_cast({a[0]} AS DECIMAL({p}, {a[1].strip()}))"
            ) if len(a) == 2 else _refuse("toDecimalNOrNull takes (x, s)"),
        )
        _call(
            f"toDecimal{_dw}OrZero",
            lambda a, p=_dp: (
                f"coalesce(try_cast({a[0]} AS DECIMAL({p}, "
                f"{a[1].strip()})), CAST(0 AS DECIMAL({p}, "
                f"{a[1].strip()})))"
            ) if len(a) == 2 else _refuse("toDecimalNOrZero takes (x, s)"),
        )
    _call(
        "fromUnixTimestampInJodaSyntax",
        lambda a: (
            f"date_format(timestamp_seconds({a[0]}), {a[1]})"
            if len(a) == 2 else f"timestamp_seconds({a[0]})"
        ),
    )
    # --- sweep tranche 3 ---
    _call(
        "toUUIDOrZero",
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {a[0]} RLIKE '{_UUID_RE_SQL}' THEN lower({a[0]}) "
            f"ELSE '00000000-0000-0000-0000-000000000000' END"
        ),
    )
    _call(
        "toUUID",
        # CH toUUID THROWS on malformed input (toUUIDOrNull is the safe
        # form) — mirrored with a lazy raise_error branch
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {a[0]} RLIKE '{_UUID_RE_SQL}' THEN lower({a[0]}) "
            f"ELSE CAST(raise_error(concat('toUUID: cannot parse ', "
            f"{a[0]})) AS STRING) END"
        ),
    )
    _call(
        "UUIDv7ToDateTime",
        # v7 layout: the first 48 bits are unix milliseconds
        lambda a: (
            f"timestamp_millis(CAST(conv(substring(translate({a[0]}, "
            f"'-', ''), 1, 12), 16, 10) AS BIGINT))"
        ),
    )
    _call(
        "ULIDStringToDateTime",
        # ULID: first 10 Crockford-base32 chars are unix ms — remap the
        # Crockford alphabet (no I, L, O, U) onto standard base-32 digits
        # and let conv() do the arithmetic
        lambda a: (
            f"timestamp_millis(CAST(conv(translate(upper(substring({a[0]}, "
            f"1, 10)), 'ABCDEFGHJKMNPQRSTVWXYZ', 'ABCDEFGHIJKLMNOPQRSTUV'), "
            f"32, 10) AS BIGINT))"
        ),
    )
    _call(
        "toIPv4OrZero",
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {a[0]} RLIKE '{_IPV4_RE_SQL}' THEN {a[0]} "
            f"ELSE '0.0.0.0' END"
        ),
    )
    _call(
        "toIPv4",
        lambda a: (
            f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS STRING) "
            f"WHEN {a[0]} RLIKE '{_IPV4_RE_SQL}' THEN {a[0]} "
            f"ELSE CAST(raise_error(concat('toIPv4: cannot parse ', "
            f"{a[0]})) AS STRING) END"
        ),
    )
    _call(
        "IPv4NumToStringClassC",
        lambda a: (
            f"concat_ws('.', "
            f"CAST((CAST({a[0]} AS BIGINT) DIV 16777216) % 256 AS STRING), "
            f"CAST((CAST({a[0]} AS BIGINT) DIV 65536) % 256 AS STRING), "
            f"CAST((CAST({a[0]} AS BIGINT) DIV 256) % 256 AS STRING), "
            f"'xxx')"
        ),
    )
    _call(
        "firstLine",
        lambda a: f"element_at(split({a[0]}, '\\\\r\\\\n|\\\\r|\\\\n'), 1)",
    )
    _call(
        "hasTokenCaseInsensitive",
        lambda a: _has_token(a, True, False, "hasTokenCaseInsensitive"),
    )
    _call(
        "hasTokenOrNull",
        lambda a: _has_token(a, False, True, "hasTokenOrNull"),
    )
    _call("hasToken", lambda a: _has_token(a, False, False, "hasToken"))
    _call("substringIndexUTF8", lambda a: f"substring_index({', '.join(a)})")
    _call(
        "stringCompare",
        # byte order == Spark's UTF8_BINARY collation order; only the
        # 2-arg form (offset/length variants are refused)
        lambda a: (
            f"(CASE WHEN {a[0]} IS NULL OR {a[1]} IS NULL "
            f"THEN CAST(NULL AS INT) "
            f"WHEN {a[0]} < {a[1]} THEN -1 "
            f"WHEN {a[0]} = {a[1]} THEN 0 ELSE 1 END)"
        ) if len(a) == 2 else _refuse(
            "stringCompare with offsets — slice with substring() first"
        ),
    )
    # formatReadableTimeDelta (r9): CH docs examples pin the 365/30.5
    # decomposition constants, the ', '/' and ' wording and plurals;
    # the 3-arg minimum_unit form is CH-version-dependent and refuses
    _call(
        "formatReadableTimeDelta",
        lambda a: (
            f"ch_time_delta({a[0]}, 'years')" if len(a) == 1
            else f"ch_time_delta({a[0]}, {a[1]})" if len(a) == 2
            and a[1].strip().startswith("'")
            else _refuse(
                "formatReadableTimeDelta supports (delta[, 'max_unit'])"
                " — the minimum_unit form is CH-version-dependent"
            )
        ),
    )
    # stem(language, word): ctypes onto the SAME libstemmer CH links —
    # CH parity by construction (docs example pinned in tests)
    _call(
        "stem",
        lambda a: f"ch_stem({a[0]}, {a[1]})" if len(a) == 2 else _refuse(
            "stem takes exactly (language, word)"
        ),
    )
    _call(
        "formatReadableDecimalSize",
        lambda a: _format_readable(
            a[0], 1000.0,
            [" B", " KB", " MB", " GB", " TB", " PB", " EB", " ZB",
             " YB"],
        ),
    )
    _call("firstValue", lambda a: f"first_value({', '.join(a)})")
    _call("lastValue", lambda a: f"last_value({', '.join(a)})")
    _call(
        "singleValueOrNull",
        lambda a: (
            f"IF(count(DISTINCT {a[0]}) = 1, max({a[0]}), NULL)"
        ),
    )
    _call("intervalLengthSum", _interval_length_sum)
    # time-decay aggregates (r8): deterministic given (value, time)
    _pass(_rewrite_parametric,
        "exponentialMovingAverage", _exp_moving_average,
        window_emit=lambda p, a, o: _exp_moving_average(p, a, over=o))
    for _kind in ("Avg", "Sum", "Count", "Max"):
        _pass(_rewrite_parametric,
            f"exponentialTimeDecayed{_kind}", _exp_time_decayed(_kind),
            window_emit=_exp_time_decayed_window(_kind))
    _call("deltaSumTimestamp", _delta_sum_timestamp)
    _on("nonNegativeDerivative", _non_negative_derivative_pass)
    _call("lagInFrame", lambda a: f"lag({', '.join(a)})")
    _call("leadInFrame", lambda a: f"lead({', '.join(a)})")
    _call(
        "timezoneOffset",
        lambda a: (
            f"(unix_timestamp({a[0]}) - unix_timestamp("
            f"to_utc_timestamp({a[0]}, current_timezone())))"
        ),
    )
    _call("toStartOfMicrosecond", lambda a: f"CAST({a[0]} AS TIMESTAMP)")
    _call(
        "toStartOfNanosecond",
        # Spark timestamps are µs-resolution — the µs value IS the floor
        lambda a: f"CAST({a[0]} AS TIMESTAMP)",
    )
    _call(
        "toStartOfMillisecond",
        # pmod-based FLOOR (DIV truncates toward zero, wrong pre-1970)
        lambda a: (
            f"timestamp_micros(unix_micros(CAST({a[0]} AS TIMESTAMP)) "
            f"- pmod(unix_micros(CAST({a[0]} AS TIMESTAMP)), 1000))"
        ),
    )
    _call(
        "toMillisecond",
        lambda a: (
            f"CAST(pmod(unix_micros(CAST({a[0]} AS TIMESTAMP)), 1000000) "
            f"DIV 1000 AS INT)"
        ),
    )
    _call(
        "snowflakeToDateTime64",
        lambda a: (
            f"timestamp_millis(shiftright(CAST({a[0]} AS BIGINT), 22) "
            "+ 1288834974657)"
            if len(a) == 1
            else _refuse(
                "snowflakeToDateTime64 with an explicit timezone (Spark "
                "uses the single session timezone — drop the argument)"
            )
        ),
    )
    _call(
        "dateTime64ToSnowflake",
        lambda a: f"shiftleft(unix_millis({a[0]}) - 1288834974657, 22)",
    )
    # quantileExactLow/High(0.5)(x): python median_low/median_high
    # semantics (the documented CH contract) — exact element selection
    # over the sorted value list; non-median levels are refused (CH's
    # general-level index rule is implementation-internal, and
    # quantileExact covers the interpolating need)
    def _exact_low_high_pass(sql: str, qlh: str, idx_1based: str) -> str:
        while True:
            at = _find_call(sql, qlh)
            if at < 0:
                return sql
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if qlh.startswith("median"):
                x = _translate_functions(sql[open1 + 1 : end1 - 1]).strip()
                end2 = end1
            else:
                if not rest.startswith("("):
                    raise ChTranslationError(
                        f"{qlh} requires the (level)(x) combinator form"
                    )
                lvl = sql[open1 + 1 : end1 - 1].strip()
                if lvl not in ("0.5", ".5"):
                    raise ChTranslationError(
                        f"{qlh} is only translatable at level 0.5 (the "
                        "documented median_low/median_high contract) — "
                        "use quantileExact for other levels"
                    )
                open2 = end1 + (len(sql[end1:]) - len(rest))
                end2 = _balanced(sql, open2)
                x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
            rep = _bind_arr(
                f"array_sort(collect_list({x}))",
                lambda s, i=idx_1based: (
                    f"CASE WHEN size({s}) = 0 THEN NULL "
                    f"ELSE element_at({s}, {i.format(s=s)}) END"
                ),
            )
            sql = sql[:at] + rep + sql[end2:]

    for qlh, idx_1based in (
        ("quantileExactLow", "CAST((size({s}) + 1) DIV 2 AS INT)"),
        ("quantileExactHigh", "CAST(size({s}) DIV 2 + 1 AS INT)"),
        ("medianExactLow", "CAST((size({s}) + 1) DIV 2 AS INT)"),
        ("medianExactHigh", "CAST(size({s}) DIV 2 + 1 AS INT)"),
    ):
        _pass(_exact_low_high_pass, qlh, idx_1based)
    # quantileGK(accuracy, level)(x): CH's Greenwald-Khanna sketch IS the
    # algorithm behind Spark's percentile_approx — a direct map
    def _quantile_gk_pass(sql: str) -> str:
        while True:
            at = _find_call(sql, "quantilesGK")
            if at < 0:
                at2 = _find_call(sql, "quantileGK")
                if at2 < 0:
                    break
                at, plural = at2, False
            else:
                plural = True
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                raise ChTranslationError(
                    "quantileGK requires the (accuracy, level…)(x) form"
                )
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            params = [
                _translate_functions(p)
                for p in _split_args(sql[open1 + 1 : end1 - 1])
            ]
            if len(params) < 2:
                raise ChTranslationError(
                    "quantileGK takes (accuracy, level…)(x)"
                )
            x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
            acc, levels = params[0], params[1:]
            if plural or len(levels) > 1:
                lv = f"array({', '.join(levels)})"
            else:
                lv = levels[0]
            rep = f"percentile_approx({x}, {lv}, CAST({acc} AS INT))"
            sql = sql[:at] + rep + sql[end2:]
        return sql

    _on("quantilesGK quantileGK", _quantile_gk_pass)
    # splitByRegexp(re, s): CH puts the pattern FIRST (like splitByChar)
    _call("splitByRegexp", lambda a: f"split({a[1]}, {a[0]})")
    _call("arrayWithConstant", lambda a: f"array_repeat({a[1]}, {a[0]})")
    _call("arrayIntersect", _array_intersect)
    _call("arrayCompact", _array_compact)
    _call("arrayResize", _array_resize)
    _call("arrayCumSum", _array_cumsum)
    _call("arrayReduceInRanges", _array_reduce_in_ranges)
    _call("arrayReduce", _array_reduce)
    for ch, dec in [("toDecimal32", 9), ("toDecimal64", 18), ("toDecimal128", 38)]:
        _call(
            ch, lambda a, p=dec: f"CAST({a[0]} AS DECIMAL({p}, {a[1].strip()}))"
        )
    # identity wrappers: CH-engine artifacts with no Spark meaning
    for noop in ("assumeNotNull", "toNullable", "materialize"):
        _call(noop, lambda a: f"({a[0]})")

    def _multi_if(args: list[str]) -> str:
        if len(args) < 3 or len(args) % 2 == 0:
            raise ChTranslationError("multiIf needs cond/value pairs + else")
        parts = ["CASE"]
        for i in range(0, len(args) - 1, 2):
            parts.append(f"WHEN {args[i]} THEN {args[i + 1]}")
        parts.append(f"ELSE {args[-1]} END")
        return " ".join(parts)

    _call("multiIf", _multi_if)
    # groupArray(N)(x) / groupUniqArray(N)(x): the capped combinator form
    # → slice of the full aggregate.  Plain one-group calls fall through
    # to the rename below.  (Element order matches CH's contract exactly:
    # both leave it unspecified under parallel aggregation.)
    def _capped_group_array_pass(sql: str, ch: str, spark_agg: str) -> str:
        pos = 0
        while True:
            at = _find_call(sql, ch, pos)
            if at < 0:
                return sql
            open1 = sql.index("(", at)
            end1 = _balanced(sql, open1)
            rest = sql[end1:].lstrip()
            if not rest.startswith("("):
                pos = end1
                continue
            open2 = end1 + (len(sql[end1:]) - len(rest))
            end2 = _balanced(sql, open2)
            n_raw = sql[open1 + 1 : end1 - 1].strip()
            if not n_raw.isdigit():
                raise ChTranslationError(
                    f"{ch}(N)(x) requires an integer literal N, got {n_raw!r}"
                )
            x = _translate_functions(sql[open2 + 1 : end2 - 1]).strip()
            rep = f"slice({spark_agg}({x}), 1, {n_raw})"
            sql = sql[:at] + rep + sql[end2:]
            pos = at + len(rep)

    for ch, spark_agg in (
        ("groupArray", "collect_list"),
        ("groupUniqArray", "collect_set"),
    ):
        _pass(_capped_group_array_pass, ch, spark_agg)
    for ch, spark in _RENAMES.items():
        _call(ch, spark)
    return rules


# textual array-producer patterns: when empty()/notEmpty()'s argument is
# one of these, the value is an array and Spark needs size(), not length()
_ARRAY_PRODUCERS = re.compile(
    r"^\s*(split|collect_list|collect_set|array|sequence|slice|array_distinct|"
    r"array_sort|sort_array|transform|filter|flatten|explode|"
    r"ch_geohashes_in_box|geohashesInBox|"
    r"ch_read_wkt_ring|ch_read_wkt_polygon|ch_read_wkt_multipolygon|"
    r"readWKTRing|readWKTPolygon|readWKTMultiPolygon)\s*\(",
)


class _Catalog(NamedTuple):
    """Catalog context of the current ``translate_ch_sql`` call."""

    # lower-cased names of columns KNOWN (from registered table schemas)
    # to be arrays — lets empty()/notEmpty() pick size() for bare array
    # columns, which pure text sniffing cannot type
    arrays: frozenset = frozenset()
    # table → ORDERABLE column names in schema order (maps excluded —
    # Spark cannot sort them), for the ANY JOIN survivor tie-break
    tables: Mapping = MappingProxyType({})
    # columns KNOWN to be strings — gates the byte-hash family
    # (sipHash64/xxHash64/xxHash32), whose CH semantics depend on the
    # argument's binary width
    strings: frozenset = frozenset()


# per call and per thread/task: concurrent translations each see their
# own catalog
_CATALOG: ContextVar[_Catalog] = ContextVar("chdialect_catalog",
                                            default=_Catalog())


def _orderable(dt) -> bool:
    """True when Spark can ORDER BY the type — no MapType anywhere in it
    (a top-level check would wave through array<map<…>> and structs with
    map fields, which fail at analysis)."""
    name = dt.typeName()
    if name == "map":
        return False
    if name == "array":
        return _orderable(dt.elementType)
    if name == "struct":
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def spark_catalog_info(
    spark, tables
) -> tuple[frozenset[str], dict[str, list[str]], frozenset[str]]:
    """One schema walk producing ALL catalog contexts — THE single
    classification source (the helpers below are thin views of it):
    (array_columns for empty()/notEmpty() typing, table_columns for the
    ANY JOIN survivor tie-break, string_columns for the byte-hash
    argument gate).  A name ambiguous across tables lands in NO set —
    downstream falls back to a loud refusal / analysis error, never a
    silent mis-answer."""
    arrays: set[str] = set()
    strings: set[str] = set()
    others: set[str] = set()
    cols: dict[str, list[str]] = {}
    for t in tables:
        fields = spark.table(t).schema.fields
        cols[t] = [f.name for f in fields if _orderable(f.dataType)]
        for f in fields:
            tn = f.dataType.typeName()
            nm = f.name.lower()
            if tn == "array":
                arrays.add(nm)
            elif tn == "string":
                strings.add(nm)
            else:
                others.add(nm)
    return (
        frozenset(arrays - strings - others),
        cols,
        frozenset(strings - arrays - others),
    )


def spark_table_columns(spark, tables) -> dict[str, list[str]]:
    """{table: [orderable column names, schema order]} — view of
    ``spark_catalog_info``."""
    return spark_catalog_info(spark, tables)[1]


def spark_array_columns(spark, tables) -> frozenset[str]:
    """Column names (lower-cased, unqualified) that are arrays in EVERY
    registered table that has them — view of ``spark_catalog_info``
    (ambiguous names fall back to ``length``, which fails loudly rather
    than silently mis-answering)."""
    return spark_catalog_info(spark, tables)[0]


def _len_expr(arg: str, str_fn: str = "length") -> str:
    """ClickHouse ``empty()``/``length()`` are polymorphic (strings AND
    arrays); Spark's ``length`` is string-only and ``size`` is
    array-only.  Pick by sniffing the argument: expressions built by
    array-producing functions get ``size``, bare columns the catalog
    context (``_Catalog.arrays``) knows to be arrays get ``size``,
    everything else ``str_fn`` — ``octet_length`` everywhere (CH
    ``length()`` counts BYTES, lengthUTF8 is the char form; for empty()/
    notEmpty() 0 bytes ⟺ 0 chars, and the byte form is idempotent under
    the re-traversal that happens when an outer rewrite re-translates
    its argument text).  An untyped bare array column then fails analysis
    loudly (string fn over array), never silently mis-answers."""
    if _ARRAY_PRODUCERS.match(arg):
        return f"size({arg})"
    bare = re.match(r"^\s*(?:[A-Za-z_]\w*\s*\.\s*)?([A-Za-z_]\w*)\s*$", arg)
    if bare and bare.group(1).lower() in _CATALOG.get().arrays:
        return f"size({arg})"
    return f"{str_fn}({arg})"


def _date_diff(args: list[str]) -> str:
    """``dateDiff('unit', start, end)`` → ``timestampdiff(UNIT, start,
    end)`` — both count crossed unit boundaries from start to end."""
    if len(args) != 3:
        raise ChTranslationError("dateDiff needs ('unit', start, end)")
    unit = args[0].strip()
    if not (unit.startswith("'") and unit.endswith("'")):
        raise ChTranslationError("dateDiff requires a literal unit")
    return f"timestampdiff({unit[1:-1].upper()}, {args[1]}, {args[2]})"


def _mysql_fmt_to_java(fmt: str, fname: str) -> str:
    """A literal MySQL %-format → the equivalent Java pattern (shared by
    formatDateTime and the parseDateTime family; pre-v23 semantics:
    %M = minute)."""
    fmt = fmt.strip()
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ChTranslationError(f"{fname} requires a literal format")
    src = fmt[1:-1]
    out = []
    i = 0
    while i < len(src):
        if src[i] == "%":
            tok = src[i : i + 2]
            if tok not in _FMT_TOKENS:
                raise ChTranslationError(f"{fname} token {tok} unsupported")
            out.append(_FMT_TOKENS[tok])
            i += 2
        elif src[i].isalpha():
            # literal letters must be quoted in the Java pattern; the
            # pattern lives inside a SQL string, so the quotes double up
            out.append(f"''{src[i]}''")
            i += 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def _format_datetime(args: list[str]) -> str:
    """``formatDateTime(x, '%Y-%m-%d')`` → ``date_format(x, 'yyyy-MM-dd')``
    via the documented %-token subset (pre-v23 semantics: %M = minute)."""
    if len(args) < 2:
        raise ChTranslationError("formatDateTime needs (x, 'format')")
    java = _mysql_fmt_to_java(args[1], "formatDateTime")
    return f"date_format({args[0]}, '{java}')"


def _parse_datetime(args: list[str], mode: str) -> str:
    """``parseDateTime[OrNull/OrZero](s[, '%fmt'])``: MySQL-format
    parsing through the shared %-token converter — the base form throws
    on mismatch under ANSI mode exactly as CH does; OrNull →
    try_to_timestamp; OrZero → epoch fallback.  Timezone arguments are
    refused (single session timezone)."""
    if len(args) not in (1, 2):
        raise ChTranslationError(
            "parseDateTime takes (s[, format]) — timezone arguments are "
            "not supported (Spark uses the single session timezone)"
        )
    fmt = args[1] if len(args) == 2 else "'%Y-%m-%d %H:%i:%s'"
    java = _mysql_fmt_to_java(fmt, "parseDateTime")
    if mode == "null":
        return f"try_to_timestamp({args[0]}, '{java}')"
    if mode == "zero":
        return (
            f"coalesce(try_to_timestamp({args[0]}, '{java}'), "
            f"TIMESTAMP '1970-01-01 00:00:00')"
        )
    return f"to_timestamp({args[0]}, '{java}')"


def _array_sum(args: list[str]) -> str:
    """``arraySum(arr)`` or ``arraySum(f, arr)`` → Spark ``aggregate``
    fold with a DOUBLE accumulator (ClickHouse widens too)."""
    src = args[0] if len(args) == 1 else f"transform({args[1]}, {args[0]})"
    return f"aggregate({src}, CAST(0 AS DOUBLE), (__as_acc, __as_x) -> __as_acc + __as_x)"


def _bucket_expr(t: str, secs: int) -> str:
    """Floor a timestamp to a fixed N-second bucket via epoch arithmetic."""
    return (
        f"timestamp_seconds(CAST(floor(unix_timestamp({t}) / {secs}) * {secs} AS BIGINT))"
    )


_INTERVAL_RE = re.compile(
    r"^\s*INTERVAL\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY)S?\s*$", re.IGNORECASE
)


def _to_start_of_interval(args: list[str]) -> str:
    """``toStartOfInterval(t, INTERVAL n unit)``.  Sub-day units become one
    epoch floor-division (arbitrary n); week/month/year only support n=1
    (→ date_trunc) because variable-length calendar buckets have no closed
    epoch form."""
    if len(args) != 2:
        raise ChTranslationError("toStartOfInterval(t, INTERVAL n unit)")
    m = _INTERVAL_RE.match(args[1])
    if m:
        n, unit = int(m.group(1)), m.group(2).lower()
        return _bucket_expr(args[0], n * _INTERVAL_SECS[unit])
    m1 = re.match(r"^\s*INTERVAL\s+1\s+(WEEK|MONTH|QUARTER|YEAR)S?\s*$", args[1], re.I)
    if m1:
        return f"date_trunc('{m1.group(1).upper()}', {args[0]})"
    raise ChTranslationError(f"unsupported toStartOfInterval step: {args[1]!r}")


# calendar-unit window ends: Spark ANSI intervals have no WEEK/QUARTER units
_CAL_UNIT_STEP = {
    "WEEK": "INTERVAL 7 DAY",
    "MONTH": "INTERVAL 1 MONTH",
    "QUARTER": "INTERVAL 3 MONTH",
    "YEAR": "INTERVAL 1 YEAR",
}


def _tumble_bounds(t: str, ivl: str, what: str) -> tuple[str, str]:
    """[start, end) of the tumbling window containing ``t`` — CH
    ``tumble()`` semantics (docs: time-window functions): epoch-aligned
    buckets for fixed-length steps (same alignment as toStartOfInterval),
    calendar date_trunc for 1-WEEK/MONTH/QUARTER/YEAR steps."""
    m = _INTERVAL_RE.match(ivl)
    if m:
        secs = int(m.group(1)) * _INTERVAL_SECS[m.group(2).lower()]
        start = _bucket_expr(t, secs)
        end = (
            f"timestamp_seconds(CAST(floor(unix_timestamp({t}) / {secs})"
            f" * {secs} + {secs} AS BIGINT))"
        )
        return start, end
    m1 = re.match(r"^\s*INTERVAL\s+1\s+(WEEK|MONTH|QUARTER|YEAR)S?\s*$", ivl, re.I)
    if m1:
        u = m1.group(1).upper()
        return (
            f"date_trunc('{u}', {t})",
            f"date_trunc('{u}', {t}) + {_CAL_UNIT_STEP[u]}",
        )
    raise ChTranslationError(f"unsupported {what} step: {ivl!r}")


def _hop_bounds(t: str, hop_ivl: str, size_ivl: str) -> tuple[str, str]:
    """[start, end) of the FIRST hop window containing ``t`` (what CH's
    scalar ``hop()`` returns outside a WINDOW VIEW, per the time-window
    function docs): window starts are epoch-aligned multiples of the hop
    step, and the earliest start still covering ``t`` is the smallest
    multiple of ``hop`` strictly greater than ``t - size`` —
    ``floor((t - size) / hop) * hop + hop``.  Fixed-length steps only:
    hopping calendar months have no closed epoch form."""
    def _secs(ivl: str, role: str) -> int:
        m = _INTERVAL_RE.match(ivl)
        if not m:
            raise ChTranslationError(
                f"hop {role} step supports INTERVAL n SECOND/MINUTE/HOUR/DAY"
                f" only, got {ivl!r}"
            )
        return int(m.group(1)) * _INTERVAL_SECS[m.group(2).lower()]

    h, s = _secs(hop_ivl, "slide"), _secs(size_ivl, "window")
    start_s = f"floor((unix_timestamp({t}) - {s}) / {h}) * {h} + {h}"
    return (
        f"timestamp_seconds(CAST({start_s} AS BIGINT))",
        f"timestamp_seconds(CAST({start_s} + {s} AS BIGINT))",
    )


def _tumble_fn(args: list[str]) -> str:
    if len(args) != 2:
        raise ChTranslationError(
            "tumble(t, INTERVAL n unit) — timezone arguments are not"
            " supported (the session timezone is pinned to UTC)"
        )
    start, end = _tumble_bounds(args[0], args[1], "tumble")
    return f"named_struct('_1', {start}, '_2', {end})"


def _tumble_edge(args: list[str], idx: int, what: str) -> str:
    # 1-arg form takes the (start, end) tuple produced by tumble()/hop()
    if len(args) == 1:
        return f"({args[0]})._{idx}"
    if len(args) == 2:
        return _tumble_bounds(args[0], args[1], what)[idx - 1]
    raise ChTranslationError(
        f"{what}(window_tuple) or {what}(t, INTERVAL n unit) — timezone"
        " arguments are not supported"
    )


def _hop_fn(args: list[str]) -> str:
    if len(args) != 3:
        raise ChTranslationError(
            "hop(t, INTERVAL slide, INTERVAL size) — timezone arguments"
            " are not supported"
        )
    start, end = _hop_bounds(args[0], args[1], args[2])
    return f"named_struct('_1', {start}, '_2', {end})"


def _hop_edge(args: list[str], idx: int, what: str) -> str:
    if len(args) == 1:
        return f"({args[0]})._{idx}"
    if len(args) == 3:
        return _hop_bounds(args[0], args[1], args[2])[idx - 1]
    raise ChTranslationError(
        f"{what}(window_tuple) or {what}(t, INTERVAL slide, INTERVAL size)"
        " — timezone arguments are not supported"
    )


def _bind_arr(arg: str, body) -> str:
    """Let-bind an array EXPRESSION once for a lambda body that references
    it repeatedly (``element_at(arr, i)`` per element): the one-element
    transform trick — Spark does no CSE inside HOF lambdas, so inlining
    the expression would re-evaluate it per element."""
    return f"element_at(transform(array({arg}), __arr -> {body('__arr')}), 1)"


def _array_intersect(a: list[str]) -> str:
    """CH arrayIntersect is n-ary; Spark's array_intersect is binary —
    left-fold the call chain."""
    if len(a) < 2:
        raise ChTranslationError("arrayIntersect needs at least 2 arrays")
    out = a[0]
    for nxt in a[1:]:
        out = f"array_intersect({out}, {nxt})"
    return out


def _array_compact(a: list[str]) -> str:
    """Remove CONSECUTIVE duplicates (not a distinct): keep element i when
    i = 0 or it differs (null-safely) from element i-1."""
    return _bind_arr(
        a[0],
        lambda v: (
            f"filter({v}, (__x, __i) -> __i = 0 OR "
            f"NOT (__x <=> element_at({v}, __i)))"
        ),
    )


def _array_resize(a: list[str]) -> str:
    """arrayResize(a, n[, fill]): truncate always works; EXTENDING needs
    the explicit fill element (CH pads with the type default, which a
    text-level translator cannot know — refused without the 3rd arg)."""
    if len(a) == 2:
        err = (
            "raise_error('arrayResize extending beyond size needs the "
            "explicit fill argument: arrayResize(a, n, fill)')"
        )
        return _bind_arr(
            a[0],
            lambda v: (
                f"CASE WHEN size({v}) >= ({a[1]}) THEN slice({v}, 1, {a[1]}) "
                f"ELSE {err} END"
            ),
        )
    return _bind_arr(
        a[0],
        lambda v: (
            f"CASE WHEN size({v}) >= ({a[1]}) THEN slice({v}, 1, {a[1]}) "
            f"ELSE concat({v}, array_repeat({a[2]}, ({a[1]}) - size({v}))) END"
        ),
    )


def _array_cumsum(a: list[str]) -> str:
    """Running prefix sums, same element type as the input (init =
    zero-length slice of the input keeps the array type).  The fold
    appends per element — O(n²) array copying, fine for the row-level
    array sizes this function exists for (CH's is equally per-row)."""
    return _bind_arr(
        a[0],
        lambda v: (
            f"aggregate({v}, slice({v}, 1, 0), (__acc, __x) -> concat(__acc, "
            f"array(CASE WHEN size(__acc) = 0 THEN __x "
            f"ELSE element_at(__acc, size(__acc)) + __x END)))"
        ),
    )


_ARRAY_REDUCE_FNS = {
    "sum": lambda v: f"aggregate({v}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)",
    "min": lambda v: f"array_min({v})",
    "max": lambda v: f"array_max({v})",
    "count": lambda v: f"size({v})",
    "avg": lambda v: (
        f"(aggregate({v}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x) "
        f"/ size({v}))"
    ),
    "any": lambda v: f"element_at({v}, 1)",
}


def _array_reduce(a: list[str]) -> str:
    """arrayReduce('agg', arr) for the scalar-aggregate subset (sum/min/
    max/count/avg/any); parameterized or multi-array aggregates are
    refused loudly."""
    if len(a) != 2:
        raise ChTranslationError(
            "arrayReduce: only the ('agg', array) two-argument form is supported"
        )
    name = a[0].strip().strip("'").lower()
    fn = _ARRAY_REDUCE_FNS.get(name)
    if fn is None:
        raise ChTranslationError(
            f"arrayReduce aggregate {name!r} unsupported "
            f"(supported: {sorted(_ARRAY_REDUCE_FNS)})"
        )
    return _bind_arr(a[1], fn)


def _array_reduce_in_ranges(a: list[str]) -> str:
    """arrayReduceInRanges('agg', ranges, arr) → per-range reductions
    over 1-based (start, length) slices (CH docs:
    arrayReduceInRanges('sum', [(1, 5), (3, 2)], [1, 2, 3, 4, 5]) =
    [15, 7]).  Spark's slice() clips at the array end exactly like CH's
    range clamp.  Only the EMPTY-RANGE-SAFE aggregates translate — sum
    and count reduce an empty slice to 0 and avg to NaN in BOTH engines;
    min/max/any over an empty range return ClickHouse's numeric-type
    DEFAULT (0) where Spark yields NULL, so those refuse rather than
    silently diverge."""
    if len(a) != 3:
        raise ChTranslationError(
            "arrayReduceInRanges takes ('agg', ranges, array)")
    name = a[0].strip().strip("'").lower()
    if name not in ("sum", "count", "avg"):
        raise ChTranslationError(
            f"arrayReduceInRanges aggregate {name!r} unsupported — an"
            " EMPTY range reduces to the aggregate's CH type default"
            " (0) which Spark's min/max/any render as NULL; only the"
            " empty-safe sum/count/avg translate"
        )
    fn = _ARRAY_REDUCE_FNS[name]
    ranges, arr = a[1].strip(), a[2].strip()
    # the ranges must be a LITERAL [(start, len), ...] at SQL-text level
    # (the bracket pass has already spelled it array(...)): each pair
    # expands to its own slice — a ranges COLUMN of tuples has no
    # text-level arity and its struct field names depend on how it was
    # produced, so it refuses
    m = re.match(r"array\s*\(", ranges)
    if not (m and ranges.endswith(")")
            and _balanced(ranges, m.end() - 1) == len(ranges)):
        raise ChTranslationError(
            "arrayReduceInRanges needs a literal [(start, len), ...]"
            " ranges argument at SQL-text level"
        )
    pairs = []
    for elem in _split_args(ranges[m.end():-1]):
        pe = _tuple_text_elems(elem)
        if pe is None or len(pe) != 2:
            raise ChTranslationError(
                "arrayReduceInRanges: every range must be a literal"
                " (start, length) pair"
            )
        pairs.append(pe)
    slices = ", ".join(
        fn(f"slice(__arr, CAST({s} AS INT), CAST({ln} AS INT))")
        for s, ln in pairs
    )
    return (
        f"element_at(transform(array({arr}), __arr -> "
        f"array({slices})), 1)"
    )


# dateName parts → (how to render as the String CH returns)
_DATE_NAME_PARTS = {
    "year": "date_format({x}, 'yyyy')",
    "quarter": "CAST(quarter({x}) AS STRING)",
    "month": "date_format({x}, 'MMMM')",
    "dayofyear": "CAST(dayofyear({x}) AS STRING)",
    "day": "CAST(day({x}) AS STRING)",
    "weekday": "date_format({x}, 'EEEE')",
    "hour": "CAST(hour({x}) AS STRING)",
    "minute": "CAST(minute({x}) AS STRING)",
    "second": "CAST(second({x}) AS STRING)",
}


def _date_name(a: list[str]) -> str:
    """``dateName('part', x)`` → the part rendered as a STRING (CH's
    return type).  'week' is refused: its value depends on CH's week-mode
    setting, which has no faithful static translation."""
    part = a[0].strip().strip("'").lower()
    tmpl = _DATE_NAME_PARTS.get(part)
    if tmpl is None:
        raise ChTranslationError(
            f"dateName part {part!r} unsupported "
            f"(supported: {sorted(_DATE_NAME_PARTS)})"
        )
    return tmpl.format(x=a[1])


def _to_start_of_week(a: list[str]) -> str:
    """``toStartOfWeek(d[, mode])``: CH's DEFAULT mode 0 starts weeks on
    SUNDAY — Spark's date_trunc('WEEK') is Monday, so the default emits
    the Sunday formula (back up dayofweek-1 days; Spark dayofweek:
    Sunday=1).  Modes 1/3 (Monday-start) map to date_trunc.  Other modes
    (first-week-of-year variations don't affect the week START) collapse
    to the same two cases by parity."""
    mode = 0
    if len(a) >= 2:
        m = a[1].strip()
        if not m.isdigit():
            raise ChTranslationError("toStartOfWeek mode must be an integer literal")
        mode = int(m)
    if mode % 2 == 1:  # Monday-start family
        return f"CAST(date_trunc('WEEK', {a[0]}) AS DATE)"
    return f"date_sub(CAST({a[0]} AS DATE), dayofweek({a[0]}) - 1)"


def _great_circle(a: list[str]) -> str:
    """``greatCircleDistance(lon1, lat1, lon2, lat2)`` → meters via the
    haversine formula on CH's sphere radius (6372797.560856 m — the value
    in its implementation, public source)."""
    if len(a) != 4:
        raise ChTranslationError("greatCircleDistance needs (lon1, lat1, lon2, lat2)")
    lon1, lat1, lon2, lat2 = a
    return (
        f"(2 * 6372797.560856 * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def _extract_all(a: list[str]) -> str:
    """``extractAll(s, 're')`` → array of matches.  CH returns the first
    capture group when the pattern has one, else the whole match — the
    group index must be picked at translation time, so the pattern must
    be a literal."""
    pat = a[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ChTranslationError("extractAll requires a literal pattern")
    body = pat[1:-1]
    # '(' opens a group iff the REGEX ENGINE sees an even number of
    # backslashes before it; the SQL literal layer halves backslash runs
    # (the input passed _reescape_literals, so runs are even) — hence
    # group-open ⟺ run length % 4 == 0, and not '(?'
    has_group = any(
        len(m.group(1)) % 4 == 0
        for m in re.finditer(r"(\\*)\((?!\?)", body)
    )
    return f"regexp_extract_all({a[0]}, {pat}, {1 if has_group else 0})"


# the IPv4 validation regex from functions/casts, re-escaped for a Spark
# SQL string literal (Spark drops lone backslashes in literals)
from .casts import _IPV4_RE as _IPV4_RE_RAW
from .casts import _IPV6_RE as _IPV6_RE_RAW

_IPV4_RE_SQL = _IPV4_RE_RAW.replace("\\", "\\\\")
_IPV6_RE_SQL = _IPV6_RE_RAW.replace("\\", "\\\\")

_AGE_UNITS = {
    "microsecond", "millisecond", "second", "minute", "hour",
    "day", "week", "month", "quarter", "year",
}


def _age(a: list[str]) -> str:
    """``age('unit', t1, t2)`` → ``timestampdiff(UNIT, t1, t2)`` — both
    return the number of COMPLETE units between the instants."""
    if len(a) != 3:
        raise ChTranslationError("age needs ('unit', start, end)")
    unit = a[0].strip().strip("'").lower()
    if unit not in _AGE_UNITS:
        raise ChTranslationError(f"age unit {unit!r} not supported")
    return f"timestampdiff({unit.upper()}, {a[1]}, {a[2]})"


def _extract_groups(a: list[str]) -> str:
    """``extractGroups(s, 're')`` → array of every capture group of the
    FIRST match (pattern must be literal so the group count is known)."""
    if len(a) != 2:
        raise ChTranslationError("extractGroups needs (s, 'pattern')")
    pat = a[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ChTranslationError("extractGroups requires a literal pattern")
    body = pat[1:-1]
    n_groups = sum(
        1
        for m in re.finditer(r"(\\*)\((?!\?)", body)
        if len(m.group(1)) % 4 == 0  # same literal-layer halving as extractAll
    )
    if n_groups == 0:
        raise ChTranslationError("extractGroups pattern has no capture groups")
    elems = ", ".join(
        f"regexp_extract({a[0]}, {pat}, {i + 1})" for i in range(n_groups)
    )
    return f"array({elems})"


def _extract_all_groups(a: list[str], mode: str) -> str:
    """``extractAllGroupsHorizontal/Vertical(s, 're')`` — literal pattern
    required (static group count).  Horizontal: one array per group with
    that group of every match; Vertical (the ``extractAllGroups``
    default): one array per match with all its groups."""
    if len(a) != 2:
        raise ChTranslationError("extractAllGroups* needs (s, 'pattern')")
    pat = a[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ChTranslationError("extractAllGroups* requires a literal"
                                 " pattern")
    body = pat[1:-1]
    n_groups = sum(
        1
        for m in re.finditer(r"(\\*)\((?!\?)", body)
        if len(m.group(1)) % 4 == 0
    )
    if n_groups == 0:
        raise ChTranslationError("extractAllGroups* pattern has no capture"
                                 " groups")
    cols = [f"regexp_extract_all({a[0]}, {pat}, {i + 1})"
            for i in range(n_groups)]
    if mode == "horizontal":
        return "array(" + ", ".join(cols) + ")"
    # vertical: let-bind the per-group arrays once, then zip by index
    binds = ", ".join(f"'g{i}', {c}" for i, c in enumerate(cols))
    row = ", ".join(f"element_at(__eg.g{i}, __ei)" for i in range(n_groups))
    return (
        f"element_at(transform(array(named_struct({binds})), __eg -> "
        f"IF(size(__eg.g0) = 0, CAST(array() AS ARRAY<ARRAY<STRING>>), "
        f"transform(sequence(1, size(__eg.g0)), __ei -> array({row})))), 1)"
    )


def _array_shift_fn(left: bool):
    """``arrayShiftLeft/Right(arr, n, fill)`` with an explicit fill and a
    literal non-negative n.  The 2-arg form pads with the element type's
    DEFAULT value, which is invisible at SQL-text level → refuses."""
    name = "arrayShiftLeft" if left else "arrayShiftRight"

    def rw(a: list[str]) -> str:
        if len(a) == 2:
            raise ChTranslationError(
                f"{name} without an explicit fill pads with the element"
                " type's default value (invisible at SQL level) — pass"
                " the fill explicitly")
        if len(a) != 3:
            raise ChTranslationError(f"{name} takes (array, n, fill)")
        n = a[1].strip()
        if not re.fullmatch(r"\d+", n):
            raise ChTranslationError(
                f"{name} needs a literal non-negative shift (negative"
                " shifts reverse direction in CH — spell the direction"
                " with the other function)")
        arr, fill = a[0], a[2]
        pad = f"array_repeat({fill}, CAST(least({n}, size({arr})) AS INT))"
        if left:
            body = f"concat(slice({arr}, {n} + 1, " \
                   f"greatest(size({arr}) - ({n}), 0)), {pad})"
        else:
            body = f"concat({pad}, slice({arr}, 1, " \
                   f"greatest(size({arr}) - ({n}), 0)))"
        return body
    return rw


def _array_enumerate_dense(a: list[str]) -> str:
    """``arrayEnumerateDense(a)`` → rank of each element's FIRST
    occurrence (1-based), CH's dense enumeration."""
    return _bind_arr(
        a[0],
        lambda v: (
            f"transform({v}, __x -> array_position(array_distinct({v}), __x))"
        ),
    )


def _array_rotate_left(a: list[str]) -> str:
    """``arrayRotateLeft(a, n)`` — negative n rotates right; pmod keeps
    the split point in range; empty arrays pass through."""
    if len(a) != 2:
        raise ChTranslationError("arrayRotateLeft needs (array, n)")
    return _bind_arr(
        a[0],
        lambda v: (
            f"CASE WHEN size({v}) <= 1 THEN {v} ELSE concat("
            f"slice({v}, pmod({a[1]}, size({v})) + 1, "
            f"size({v}) - pmod({a[1]}, size({v}))), "
            f"slice({v}, 1, pmod({a[1]}, size({v})))) END"
        ),
    )


def _ipv4_string_to_num(a: list[str]) -> str:
    """``IPv4StringToNum(s)`` → the UInt32 integer of the dotted quad
    (invalid input → 0, the reference's zero-IP default,
    parser/fastjson.go:739-785)."""
    return _bind_arr(
        f"CASE WHEN {a[0]} RLIKE '{_IPV4_RE_SQL}' "
        f"THEN transform(split({a[0]}, '\\\\.'), __o -> CAST(__o AS BIGINT)) "
        f"ELSE array(0L, 0L, 0L, 0L) END",
        lambda v: (
            f"(element_at({v}, 1) * 16777216 + element_at({v}, 2) * 65536 "
            f"+ element_at({v}, 3) * 256 + element_at({v}, 4))"
        ),
    )


# accurateCastOrNull targets: the NARROW Spark type whose TRY_CAST
# range/format check reproduces CH's accuracy check for string input
# (numeric input differs on fractions: TRY_CAST truncates 1.5→1 where CH
# nulls — string metrics, the sinker case, behave identically)
_ACCURATE_TYPES = {
    "Int8": "TINYINT",
    "Int16": "SMALLINT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "String": "STRING",
    "Date": "DATE",
    "DateTime": "TIMESTAMP",
}


def _accurate_cast(a: list[str]) -> str:
    """``accurateCast(x, 'Type')`` — CH throws on overflow; under ANSI
    the plain CAST does exactly that (same type table as the OrNull
    form)."""
    if len(a) != 2:
        raise ChTranslationError("accurateCast needs (x, 'Type')")
    t = a[1].strip().strip("'")
    sp = _ACCURATE_TYPES.get(t)
    if sp is None:
        raise ChTranslationError(
            f"accurateCast target {t!r} not supported "
            f"(supported: {sorted(_ACCURATE_TYPES)})"
        )
    return f"CAST({a[0]} AS {sp})"


def _matrix_agg_fn(name: str, agg: str):
    """``corrMatrix/covar*Matrix(x1, …, xn)`` → n×n nested arrays of the
    pairwise aggregate (the argument count IS the matrix dimension, so
    the expansion is static)."""
    def rw(a: list[str]) -> str:
        if len(a) < 2:
            raise ChTranslationError(f"{name} needs at least 2 columns")
        rows = ", ".join(
            "array(" + ", ".join(
                f"{agg}({ai}, {aj})" for aj in a) + ")"
            for ai in a)
        return f"array({rows})"
    return rw


def _group_array_intersect(a: list[str]) -> str:
    """``groupArrayIntersect(arr)`` — the intersection of all the
    group's array values: one collect_list, then a let-bound
    array_intersect fold seeded with the first element."""
    if len(a) != 1:
        raise ChTranslationError("groupArrayIntersect takes 1 array column")
    return (
        f"element_at(transform(array(collect_list({a[0]})), __gi -> "
        f"aggregate(slice(__gi, 2, greatest(size(__gi) - 1, 0)), "
        f"array_distinct(try_element_at(__gi, 1)), "
        f"(__ga, __gv) -> array_intersect(__ga, __gv))), 1)"
    )


def _accurate_cast_or_null(a: list[str]) -> str:
    if len(a) != 2:
        raise ChTranslationError("accurateCastOrNull needs (x, 'Type')")
    t = a[1].strip().strip("'")
    sp = _ACCURATE_TYPES.get(t)
    if sp is None:
        raise ChTranslationError(
            f"accurateCastOrNull target {t!r} not supported "
            f"(supported: {sorted(_ACCURATE_TYPES)})"
        )
    return f"TRY_CAST({a[0]} AS {sp})"


def _case_with_expression(a: list[str]) -> str:
    """``caseWithExpression(x, w1, r1, …, default)`` — the function form
    of ``CASE x WHEN … END``."""
    if len(a) < 4 or len(a) % 2 != 0:
        raise ChTranslationError(
            "caseWithExpression needs (x, when1, then1, …, default)"
        )
    whens = " ".join(
        f"WHEN {w} THEN {r}" for w, r in zip(a[1:-1:2], a[2:-1:2])
    )
    return f"CASE {a[0]} {whens} ELSE {a[-1]} END"


def _transform_value_map(a: list[str]) -> str:
    """CH value-mapping ``transform(x, from[], to[][, default])`` → a
    map_from_arrays lookup (3-arg keeps x when unmatched, per CH docs).
    The 2-arg form is Spark's own higher-order transform — reconstructed
    unchanged so the scan advances past it."""
    if len(a) == 2:
        return f"transform({a[0]}, {a[1]})"
    if len(a) == 3:
        return (
            f"coalesce(try_element_at(map_from_arrays({a[1]}, {a[2]}), "
            f"{a[0]}), {a[0]})"
        )
    if len(a) == 4:
        return (
            f"coalesce(try_element_at(map_from_arrays({a[1]}, {a[2]}), "
            f"{a[0]}), {a[3]})"
        )
    raise ChTranslationError(
        "transform() takes (x, from, to[, default]) — or 2 args as the "
        "Spark higher-order function"
    )


def _agg_map(a: list[str], combine: str, name: str) -> str:
    """``sumMap/minMap/maxMap(keys, values)`` (or one map argument) →
    per-row maps merged with a ``map_zip_with`` fold, returned as CH's
    tuple-of-arrays shape ``(keys sorted ascending, aggregated values)``.
    Scale: the fold runs inside one grouped aggregate — state is one map
    per group (exactly CH's aggregate state), no extra shuffle."""
    if len(a) == 1:
        row = a[0]
    elif len(a) == 2:
        row = f"map_from_arrays({a[0]}, {a[1]})"
    else:
        raise ChTranslationError(
            f"{name} supports {name}(keys, values) or {name}(map) — "
            "multi-value-array forms are not translatable"
        )
    merged = _bind_arr(
        f"collect_list({row})",
        lambda lst: (
            f"CASE WHEN size({lst}) = 0 THEN NULL "
            f"ELSE aggregate(slice({lst}, 2, size({lst}) - 1), "
            f"element_at({lst}, 1), "
            f"(__acc, __m) -> map_zip_with(__acc, __m, "
            f"(__k, __a, __b) -> {combine})) END"
        ),
    )
    return _bind_arr(
        merged,
        lambda m: _bind_arr(
            f"sort_array(map_entries({m}))",
            lambda ent: (
                f"named_struct('keys', transform({ent}, __e -> __e.key), "
                f"'values', transform({ent}, __e -> __e.value))"
            ),
        ),
    )


def _sum_map_overflow(a: list[str], keep: str | None = None) -> str:
    """``sumMapWithOverflow(keys, values)`` (r10, previously refused):
    the sumMap map_zip_with fold with the ARGUMENT's value width KEPT
    and wrapped — sumWithOverflow's modular DECIMAL(38) machinery
    composed into the per-key combine.  Width comes from the to[U]IntN
    spelling inside the values argument (the SQL text cannot see column
    types — the same gate sumWithOverflow uses); every per-row value is
    pre-wrapped so single-row groups wrap too, and every combine
    re-reduces mod 2^bits, keeping magnitudes inside DECIMAL(38) at
    every step (mod is a ring homomorphism, so stepwise ≡ final-sum
    wrapping).  Unsigned renders DECIMAL(20,0), signed re-centers to
    BIGINT — as sumWithOverflow.  ``keep`` (r11) is the already-
    translated keys_to_keep array of the sumMapFilteredWithOverflow
    combinator: the per-row map is filtered BEFORE the fold, exactly
    the sumMapFiltered shape, so dropped keys never enter the state —
    filtering commutes with the per-key modular fold, which is why the
    composition needs no new convention."""
    if len(a) != 2:
        raise ChTranslationError(
            "sumMapWithOverflow takes (keys_array, values_array) — the"
            " single-map form has no visible value width")
    m_arr = re.match(r"^\s*array\s*\(", a[1])
    if m_arr:
        open_idx = a[1].index("(")
        elems = _split_args(a[1][open_idx + 1 : _balanced(a[1], open_idx) - 1])
    else:
        elems = [a[1]]
    widths = set()
    for el in elems:
        m = re.match(_WIDTH_RE, el.strip())
        if m is None:
            widths.add(None)
        else:
            widths.add((m.group(1) or "", m.group(2)))
    if len(widths) != 1 or None in widths:
        raise ChTranslationError(
            "sumMapWithOverflow needs the values width visible in the"
            " SQL text: each value element's OUTERMOST wrapper must be"
            " the same to[U]IntN(...) (the sumWithOverflow gate)")
    ((u, bits_s),) = widths
    bits = int(bits_s)
    modulus = 1 << bits
    if u:
        def wrap(x: str) -> str:
            return f"pmod({x}, {modulus})"

        def out(x: str) -> str:
            return f"CAST({x} AS DECIMAL(20, 0))"
    else:
        half = 1 << (bits - 1)

        def wrap(x: str) -> str:
            return f"(pmod(({x}) + {half}, {modulus}) - {half})"

        def out(x: str) -> str:
            return f"CAST({x} AS BIGINT)"
    row = (
        f"map_from_arrays({a[0]}, transform({a[1]},"
        f" __x -> {wrap('CAST(__x AS DECIMAL(38, 0))')}))"
    )
    if keep is not None:
        row = (f"map_filter({row},"
               f" (__mk, __mv) -> array_contains({keep}, __mk))")
    combine = wrap("coalesce(__a, 0) + coalesce(__b, 0)")
    merged = _bind_arr(
        f"collect_list({row})",
        lambda lst: (
            f"CASE WHEN size({lst}) = 0 THEN NULL "
            f"ELSE aggregate(slice({lst}, 2, size({lst}) - 1), "
            f"element_at({lst}, 1), "
            f"(__acc, __m) -> map_zip_with(__acc, __m, "
            f"(__k, __a, __b) -> {combine})) END"
        ),
    )
    return _bind_arr(
        merged,
        lambda m: _bind_arr(
            f"sort_array(map_entries({m}))",
            lambda ent: (
                f"named_struct('keys', transform({ent}, __e -> __e.key), "
                f"'values', transform({ent}, __e -> {out('__e.value')}))"
            ),
        ),
    )


def _array_avg(args: list[str]) -> str:
    arr = args[0]
    if len(args) != 1:
        raise ChTranslationError("arrayAvg lambda form not supported")
    return (
        f"(aggregate({arr}, CAST(0 AS DOUBLE), (__acc, __x) -> __acc + __x)"
        f" / size({arr}))"
    )


def _array_difference(args: list[str]) -> str:
    """CH semantics: first element 0, then a[i] - a[i-1] (1-indexed).
    Spark ``sequence(1, 0)`` auto-DESCENDS to [1, 0] instead of being
    empty, so the index sequence is floored at one element and the final
    ``slice(..., 1, size)`` restores [] for empty inputs."""
    arr = args[0]
    return (
        f"slice(transform(sequence(1, GREATEST(size({arr}), 1)),"
        f" __i -> CASE WHEN __i = 1 THEN 0"
        f" ELSE element_at({arr}, __i) - element_at({arr}, __i - 1) END),"
        f" 1, size({arr}))"
    )


def _range_seq(args: list[str]) -> str:
    """CH range: end-EXCLUSIVE, and an empty range is [].  Spark
    ``sequence(a, b)`` auto-descends when a > b (range(0) would become
    [0, -1]), so the end is clamped and the slice trims to the true
    length (0 when empty)."""
    if len(args) == 1:
        n = f"({args[0]})"
        return f"slice(sequence(0, GREATEST({n} - 1, 0)), 1, GREATEST({n}, 0))"
    if len(args) == 2:
        a, b = f"({args[0]})", f"({args[1]})"
        return (
            f"slice(sequence({a}, GREATEST({b} - 1, {a})), 1, "
            f"GREATEST({b} - {a}, 0))"
        )
    raise ChTranslationError("range with explicit step not supported")


def _ipv4_num_to_string(x: str) -> str:
    """UInt32 → dotted-quad string (shared by IPv4NumToString and
    IPv4CIDRToRange)."""
    return (
        f"concat_ws('.', "
        f"CAST((CAST({x} AS BIGINT) DIV 16777216) % 256 AS STRING), "
        f"CAST((CAST({x} AS BIGINT) DIV 65536) % 256 AS STRING), "
        f"CAST((CAST({x} AS BIGINT) DIV 256) % 256 AS STRING), "
        f"CAST(CAST({x} AS BIGINT) % 256 AS STRING))"
    )


def _ipv4_cidr_to_range(a: list[str]) -> str:
    """``IPv4CIDRToRange(ip, cidr)`` → CH's tuple ``(low, high)`` of
    dotted-quad strings: the subnet's first and last address.  Pure
    integer arithmetic on the UInt32 form — DIV/multiply by the block
    size instead of bit masks so cidr 0 (block 2^32) stays inside
    BIGINT."""
    if len(a) != 2:
        raise ChTranslationError("IPv4CIDRToRange takes (ip, cidr)")
    # clamp the host-bit count to [0, 32]: cidr ≥ 32 → block of 1 (the
    # address itself, as CH), cidr ≤ 0 → the whole space; an unclamped
    # negative shift would wrap mod 64 in the JVM
    sh = (
        f"shiftleft(CAST(1 AS BIGINT), "
        f"LEAST(GREATEST(32 - ({a[1]}), 0), 32))"
    )
    return _bind_arr(
        _ipv4_string_to_num([a[0]]),
        lambda nn: _bind_arr(
            f"named_struct('lo', (({nn}) DIV {sh}) * {sh}, "
            f"'hi', (({nn}) DIV {sh}) * {sh} + {sh} - 1)",
            lambda s: (
                f"named_struct('_1', {_ipv4_num_to_string(f'{s}.lo')}, "
                f"'_2', {_ipv4_num_to_string(f'{s}.hi')})"
            ),
        ),
    )


def _bitmask_to_list(a: list[str]) -> str:
    """``bitmaskToList(n)``: the powers of two summing to n, ascending,
    as a comma-joined string ('50' → '2,16,32'; 0 → '').  Negative
    input raises loudly (two's-complement sign bits have no UInt power
    decomposition)."""
    if len(a) != 1:
        raise ChTranslationError("bitmaskToList takes exactly 1 argument")
    n = f"CAST({a[0]} AS BIGINT)"
    return (
        f"CASE WHEN {n} IS NULL THEN CAST(NULL AS STRING) "
        f"WHEN {n} < 0 THEN CAST(raise_error('bitmaskToList: negative "
        f"input has no unsigned power-of-two decomposition') AS STRING) "
        f"ELSE array_join(transform(filter("
        f"transform(sequence(0, 62), __i -> "
        f"shiftleft(CAST(1 AS BIGINT), CAST(__i AS INT))), "
        f"__p -> ({n} & __p) <> 0), "
        f"__q -> CAST(__q AS STRING)), ',') END"
    )


def _mac_num_to_string(a: list[str]) -> str:
    """``MACNumToString(n)``: lower 6 bytes as colon-separated uppercase
    hex pairs (CH formatMAC writes uppercase digits)."""
    if len(a) != 1:
        raise ChTranslationError("MACNumToString takes exactly 1 argument")
    n = f"CAST({a[0]} AS BIGINT)"
    octets = ", ".join(
        f"lpad(hex(({n} DIV {1 << s}) % 256), 2, '0')"
        for s in (40, 32, 24, 16, 8, 0)
    )
    return f"concat_ws(':', {octets})"


def _mac_string_to_num(a: list[str]) -> str:
    """``MACStringToNum(s)``: 'AB:CD:…' → UInt48 integer; malformed
    input → 0 (the CH contract)."""
    if len(a) != 1:
        raise ChTranslationError("MACStringToNum takes exactly 1 argument")
    return (
        f"CASE WHEN {a[0]} IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN {a[0]} RLIKE '^([0-9A-Fa-f]{{2}}:){{5}}[0-9A-Fa-f]{{2}}$' "
        f"THEN CAST(conv(replace({a[0]}, ':', ''), 16, 10) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


def _map_apply(a: list[str]) -> str:
    """``mapApply((k, v) -> (keyExpr, valueExpr), m)``: CH's tuple-valued
    map lambda → transform over map_entries rebuilt with
    map_from_entries.  The lambda variables are substituted textually
    (word-boundary, outside string literals) with the entry's key/value
    fields — the same lexical scoping CH applies."""
    if len(a) != 2:
        raise ChTranslationError("mapApply takes (lambda, map)")
    lam = a[0].strip()
    mm = re.match(
        r"^\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*\((.*)\)\s*$",
        lam,
        re.S,
    )
    if not mm:
        raise ChTranslationError(
            "mapApply requires a ((k, v) -> (keyExpr, valueExpr)) lambda"
        )
    kvar, vvar, body = mm.group(1), mm.group(2), mm.group(3)
    if kvar == vvar:
        raise ChTranslationError("mapApply lambda variables must be distinct")
    parts = _split_args(body)
    if len(parts) != 2:
        raise ChTranslationError(
            "mapApply lambda must return a 2-tuple (keyExpr, valueExpr)"
        )
    repl_by_var = {kvar: "__ma.key", vvar: "__ma.value"}

    def sub(expr: str) -> str:
        # ONE combined pass — two sequential substitutions would rewrite
        # text the first one inserted (e.g. a value variable named 'key'
        # matching inside the freshly-placed '__ma.key')
        word = rf"\b({re.escape(kvar)}|{re.escape(vvar)})\b"
        out = expr
        for m in reversed(_spans_outside_strings(expr, word)):
            out = out[: m.start()] + repl_by_var[m.group(1)] + out[m.end() :]
        return out

    return (
        f"map_from_entries(transform(map_entries({a[1]}), __ma -> "
        f"struct({sub(parts[0])} AS key, {sub(parts[1])} AS value)))"
    )


def _max_intersections(a: list[str], position: bool) -> str:
    """``maxIntersections[Position](start, end)``: sweep-line over
    (position, ±1) boundary events — sort_array orders ties with the
    closing −1 BEFORE the opening +1 at equal positions (struct field
    order), giving CH's half-open [start, end) overlap count.  Position
    returns the first coordinate where the maximum is reached, as
    DOUBLE (noted: CH preserves the argument type)."""
    if len(a) != 2:
        raise ChTranslationError(
            "maxIntersections takes (interval_start, interval_end)"
        )
    lst = (
        f"flatten(collect_list(array("
        f"named_struct('p', CAST({a[0]} AS DOUBLE), 'w', 1), "
        f"named_struct('p', CAST({a[1]} AS DOUBLE), 'w', -1))))"
    )
    field = "pos" if position else "best"
    return (
        f"aggregate(sort_array({lst}), "
        f"named_struct('cur', 0L, 'best', 0L, 'pos', CAST(NULL AS DOUBLE)), "
        f"(__mi, __e) -> CASE WHEN __mi.cur + __e.w > __mi.best "
        f"THEN named_struct('cur', __mi.cur + __e.w, "
        f"'best', __mi.cur + __e.w, 'pos', __e.p) "
        f"ELSE named_struct('cur', __mi.cur + __e.w, "
        f"'best', __mi.best, 'pos', __mi.pos) END, "
        f"__mi -> __mi.{field})"
    )


_UUID_RE_SQL = (
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def _quote_meta_expr(t: str) -> str:
    """Runtime regex-metachar escaping of an expression (the
    regexpQuoteMeta emission, reused for needle embedding)."""
    return (
        f"regexp_replace({t}, "
        "'([\\\\\\\\|()^$.\\\\[\\\\]?*+{:-])', '\\\\\\\\$1')"
    )


def _has_token(a: list[str], ci: bool, or_null: bool, name: str) -> str:
    """``hasToken[CaseInsensitive][OrNull](haystack, needle)``: whole-token
    match — tokens are maximal [0-9A-Za-z] runs (CH's tokenizer).  A
    needle containing a separator raises (CH contract); the OrNull form
    returns NULL instead."""
    if len(a) != 2:
        raise ChTranslationError(f"{name} takes (haystack, needle)")
    h, t = a
    if ci:
        h, t = f"lower({h})", f"lower({t})"
    cond = (
        f"({h} RLIKE concat('(^|[^0-9A-Za-z])', {_quote_meta_expr(t)}, "
        f"'([^0-9A-Za-z]|$)'))"
    )
    on_bad = (
        "CAST(NULL AS BOOLEAN)"
        if or_null
        else f"CAST(raise_error('{name}: needle must be a single token "
             f"(no non-alphanumeric separators)') AS BOOLEAN)"
    )
    return (
        f"CASE WHEN {t} RLIKE '[^0-9A-Za-z]' THEN {on_bad} "
        f"ELSE {cond} END"
    )


def _interval_length_sum(a: list[str]) -> str:
    """``intervalLengthSum(start, end)``: total measure of the UNION of
    the intervals — sweep-line fold over sorted (position, ±1) boundary
    events accumulating covered length while depth > 0."""
    if len(a) != 2:
        raise ChTranslationError("intervalLengthSum takes (start, end)")
    lst = (
        f"flatten(collect_list(array("
        f"named_struct('p', CAST({a[0]} AS DOUBLE), 'w', 1), "
        f"named_struct('p', CAST({a[1]} AS DOUBLE), 'w', -1))))"
    )
    return (
        f"aggregate(sort_array({lst}), "
        f"named_struct('cov', CAST(0 AS DOUBLE), 'cur', 0, "
        f"'lp', CAST(0 AS DOUBLE)), "
        f"(__il, __e) -> named_struct("
        f"'cov', __il.cov + IF(__il.cur > 0, __e.p - __il.lp, "
        f"CAST(0 AS DOUBLE)), "
        f"'cur', __il.cur + __e.w, 'lp', __e.p), "
        f"__il -> __il.cov)"
    )


# ---------------------------------------------------------------------------
# Time-decay aggregates (VERDICT r7 order #4): deterministic given their
# explicit (value, time) arguments — the old "order-dependent" refusal was
# wrong for these five.  All ride the intervalLengthSum machinery: one
# NULL-skipping collect_list of (t, v) pairs, the pair array + its max-t
# let-bound ONCE as named_struct fields (no CSE inside lambdas), one fold.
# Per-group state = the pair list — the same memory contract CH's own
# aggregate states hold (documented at rankCorr).
# ---------------------------------------------------------------------------


def _rewrite_parametric(sql: str, name: str, emit, window_emit=None) -> str:
    """Rewrite ``name(param)(args...)`` combinator-parameter calls (the
    topK machinery, generalized).  ``emit(param_text, args)`` returns the
    replacement; emissions must not contain ``name(`` (they are re-scanned
    from the top).

    ``window_emit(param, args, over_text)``, when given, consumes a
    trailing ``OVER (...)`` clause too and replaces the WHOLE
    ``name(p)(a) OVER (w)`` span — needed for window-only CH functions
    (exponentialTimeDecayed*) whose translation is a fold expression, not
    an aggregate a bare trailing OVER could legally attach to."""
    while True:
        at = _find_call(sql, name)
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        rest = sql[end1:].lstrip()
        if not rest.startswith("("):
            raise ChTranslationError(
                f"{name} requires the {name}(param)(args) combinator form")
        open2 = end1 + (len(sql[end1:]) - len(rest))
        end2 = _balanced(sql, open2)
        param = sql[open1 + 1 : end1 - 1].strip()
        args = _split_args(sql[open2 + 1 : end2 - 1])
        if window_emit is not None:
            m_over = re.match(r"\s*OVER\b\s*(\()?", sql[end2:],
                              re.IGNORECASE)
            if m_over and m_over.group(1):
                open3 = end2 + m_over.end() - 1
                end3 = _balanced(sql, open3)
                over = sql[open3 + 1 : end3 - 1]
                sql = sql[:at] + window_emit(param, args, over) + sql[end3:]
                continue
            if m_over:
                raise ChTranslationError(
                    f"{name} OVER <named window> is not supported —"
                    " inline the window specification")
        sql = sql[:at] + emit(param, args) + sql[end2:]


def _decay_pairs(v: str, t: str, over: str | None = None) -> str:
    """NULL-skipping collect of (t, v) pairs sorted by (t, v) — the sort
    makes tie-timestamp folds deterministic (CH's own order is
    unspecified for ties; (t, v) ascending is this repo's documented
    choice, mirrored in every oracle).  ``over`` attaches the collect to
    a window frame instead of the enclosing GROUP BY."""
    suffix = f" OVER ({over})" if over is not None else ""
    return (
        f"sort_array(collect_list(CASE WHEN ({v}) IS NOT NULL"
        f" AND ({t}) IS NOT NULL THEN named_struct("
        f"'t', CAST({t} AS DOUBLE), 'v', CAST({v} AS DOUBLE)) END)"
        f"{suffix})"
    )


def _decay_binding(v: str, t: str, over: str | None = None) -> str:
    pairs = _decay_pairs(v, t, over)
    # two textually identical collect_list calls dedup into ONE buffer
    return (f"named_struct('p', {pairs},"
            f" 'tm', array_max(transform({pairs}, __dk_m -> __dk_m.t)))")


def _decay_fold(v: str, t: str, body, over: str | None = None) -> str:
    return (f"element_at(transform(array({_decay_binding(v, t, over)}),"
            f" __dk_b -> {body('__dk_b')}), 1)")


def _num_param(name: str, param: str) -> str:
    if not re.fullmatch(r"\d+(\.\d+)?", param.strip()):
        raise ChTranslationError(
            f"{name} requires a numeric literal parameter, got {param!r}")
    return param.strip()


def _exp_moving_average(param: str, a: list[str],
                        over: str | None = None) -> str:
    """``exponentialMovingAverage(h)(v, t)`` — CH's ExponentiallySmoothed
    Average model: state = Σ vᵢ·2^((tᵢ−t_max)/h), result = state divided
    by the closed infinite weight series 1/(1−2^(−1/h)) (so a constant
    input yields that constant as h→fine).  The DuckDB oracle re-derives
    the same published formula with window functions — independent of
    the fold machinery; the formula itself is the CH-docs/source model
    (AggregateFunctionExponentialMovingAverage over
    ExponentiallySmoothedCounter.h)."""
    h = _num_param("exponentialMovingAverage", param)
    if len(a) != 2:
        raise ChTranslationError(
            "exponentialMovingAverage(h)(value, time) takes 2 arguments")
    return _decay_fold(a[0], a[1], lambda b: (
        f"aggregate({b}.p, CAST(0 AS DOUBLE),"
        f" (__dk_a, __dk_e) -> __dk_a + __dk_e.v"
        f" * pow(2, (__dk_e.t - {b}.tm) / {h}),"
        f" __dk_a -> __dk_a * (1 - pow(2, -1 / CAST({h} AS DOUBLE))))"
    ), over=over)


def _exp_time_decayed(kind: str):
    """exponentialTimeDecayedSum/Count/Avg/Max(x)(v, t) — e-based decay
    exp((tᵢ−t_last)/x): Sum = Σ vᵢ·wᵢ, Count = Σ wᵢ, Avg = Sum/Count
    (NULL on empty via try_divide), Max = max vᵢ·wᵢ.  Count takes only
    (t).

    In ClickHouse these four exist ONLY as window functions
    (WindowTransform) — the genuine CH spelling carries an OVER clause
    and is handled by :func:`_exp_time_decayed_window`.  Accepting the
    bare aggregate form too (decay re-anchored to the group's max
    timestamp) is a DELIBERATE EXTENSION of this dialect: the same
    decay model without requiring a window frame."""
    def rw(param: str, a: list[str]) -> str:
        x = _num_param(f"exponentialTimeDecayed{kind}", param)
        if kind == "Count":
            if len(a) != 1:
                raise ChTranslationError(
                    "exponentialTimeDecayedCount(x)(time) takes 1 argument")
            v, t = a[0], a[0]
        else:
            if len(a) != 2:
                raise ChTranslationError(
                    f"exponentialTimeDecayed{kind}(x)(value, time)"
                    " takes 2 arguments")
            v, t = a
        def w(b):
            return f"exp((__dk_e.t - {b}.tm) / CAST({x} AS DOUBLE))"
        if kind == "Max":
            return _decay_fold(v, t, lambda b: (
                f"array_max(transform({b}.p,"
                f" __dk_e -> __dk_e.v * {w(b)}))"
            ))
        if kind == "Sum":
            return _decay_fold(v, t, lambda b: (
                f"aggregate({b}.p, CAST(0 AS DOUBLE),"
                f" (__dk_a, __dk_e) -> __dk_a + __dk_e.v * {w(b)})"
            ))
        if kind == "Count":
            return _decay_fold(v, t, lambda b: (
                f"aggregate({b}.p, CAST(0 AS DOUBLE),"
                f" (__dk_a, __dk_e) -> __dk_a + {w(b)})"
            ))
        # Avg: one fold carrying (Σ v·w, Σ w)
        return _decay_fold(v, t, lambda b: (
            f"aggregate({b}.p,"
            f" named_struct('s', CAST(0 AS DOUBLE), 'c', CAST(0 AS DOUBLE)),"
            f" (__dk_a, __dk_e) -> named_struct("
            f"'s', __dk_a.s + __dk_e.v * {w(b)},"
            f" 'c', __dk_a.c + {w(b)}),"
            f" __dk_a -> try_divide(__dk_a.s, __dk_a.c))"
        ))
    return rw


def _exp_time_decayed_window(kind: str):
    """The genuine CH form: ``exponentialTimeDecayed{Sum,Count,Avg,Max}
    (x)(v, t) OVER (w)`` — window-only in ClickHouse (WindowTransform,
    CH source ``src/Processors/Transforms/WindowTransform.cpp``).  Decay
    anchors at the CURRENT row's time: weightᵢ = exp((tᵢ − t_cur)/x)
    over the frame, exactly the nonNegativeDerivative per-row pattern.
    Rows whose own time is NULL yield NULL.  Empty / all-NULL frames:
    Sum/Count → 0, Avg/Max → NULL.  The collect_list rides the
    user-supplied window spec; the fold is a per-row scalar over it —
    one Window node, no extra shuffle beyond the PARTITION BY."""
    def rw(param: str, a: list[str], over: str) -> str:
        x = _num_param(f"exponentialTimeDecayed{kind}", param)
        if kind == "Count":
            if len(a) != 1:
                raise ChTranslationError(
                    "exponentialTimeDecayedCount(x)(time) takes 1 argument")
            v, t = a[0], a[0]
        else:
            if len(a) != 2:
                raise ChTranslationError(
                    f"exponentialTimeDecayed{kind}(x)(value, time)"
                    " takes 2 arguments")
            v, t = a
        pairs = _decay_pairs(v, t, over)
        w = (f"exp((__dk_e.t - CAST({t} AS DOUBLE))"
             f" / CAST({x} AS DOUBLE))")
        if kind == "Max":
            return (f"array_max(transform({pairs},"
                    f" __dk_e -> __dk_e.v * {w}))")
        if kind == "Sum":
            return (f"aggregate({pairs}, CAST(0 AS DOUBLE),"
                    f" (__dk_a, __dk_e) -> __dk_a + __dk_e.v * {w})")
        if kind == "Count":
            return (f"aggregate({pairs}, CAST(0 AS DOUBLE),"
                    f" (__dk_a, __dk_e) -> __dk_a + {w})")
        return (
            f"aggregate({pairs},"
            f" named_struct('s', CAST(0 AS DOUBLE), 'c', CAST(0 AS DOUBLE)),"
            f" (__dk_a, __dk_e) -> named_struct("
            f"'s', __dk_a.s + __dk_e.v * {w},"
            f" 'c', __dk_a.c + {w}),"
            f" __dk_a -> try_divide(__dk_a.s, __dk_a.c))"
        )
    return rw


def _delta_sum_timestamp(a: list[str]) -> str:
    """``deltaSumTimestamp(value, timestamp)``: Σ of POSITIVE consecutive
    differences with rows ordered by timestamp (CH stores timestamps in
    the state precisely so merges re-sort — the sorted fold is the same
    contract).  Tie timestamps fold in (t, v) order (documented)."""
    if len(a) != 2:
        raise ChTranslationError("deltaSumTimestamp takes (value, timestamp)")
    return _decay_fold(a[0], a[1], lambda b: (
        f"aggregate({b}.p,"
        f" named_struct('s', CAST(0 AS DOUBLE), 'pv', CAST(NULL AS DOUBLE)),"
        f" (__dk_a, __dk_e) -> named_struct("
        f"'s', __dk_a.s + IF(__dk_a.pv IS NOT NULL AND __dk_e.v > __dk_a.pv,"
        f" __dk_e.v - __dk_a.pv, CAST(0 AS DOUBLE)),"
        f" 'pv', __dk_e.v),"
        f" __dk_a -> __dk_a.s)"
    ))


def _non_negative_derivative_pass(sql: str) -> str:
    """``nonNegativeDerivative(m, t[, INTERVAL n unit]) OVER (...)`` —
    a WINDOW function in CH: per-row rate of change vs the previous row
    in the window order, scaled to the interval, clamped at 0 from
    below.  First row and zero/negative time steps yield 0 (CH emits 0
    for the first row; try_divide keeps a tied timestamp ANSI-safe
    instead of raising).  Expanded to LAG expressions over the SAME
    captured window spec (inline or named)."""
    while True:
        at = _find_call(sql, "nonNegativeDerivative")
        if at < 0:
            return sql
        open1 = sql.index("(", at)
        end1 = _balanced(sql, open1)
        args = _split_args(sql[open1 + 1 : end1 - 1])
        if len(args) not in (2, 3):
            raise ChTranslationError(
                "nonNegativeDerivative(metric, timestamp[, INTERVAL n unit])")
        m = re.match(r"\s*OVER\s*", sql[end1:], re.IGNORECASE)
        if not m:
            raise ChTranslationError(
                "nonNegativeDerivative is a window function —"
                " OVER (...) required")
        after = end1 + m.end()
        if after < len(sql) and sql[after] == "(":
            wend = _balanced(sql, after)
        else:
            wm = re.match(r"[A-Za-z_][A-Za-z0-9_]*", sql[after:])
            if not wm:
                raise ChTranslationError(
                    "nonNegativeDerivative: malformed OVER clause")
            wend = after + wm.end()
        win = sql[after:wend]
        secs = 1
        if len(args) == 3:
            im = _INTERVAL_RE.match(args[2])
            if not im:
                raise ChTranslationError(
                    "nonNegativeDerivative interval must be a literal"
                    " INTERVAL n SECOND/MINUTE/HOUR/DAY")
            secs = int(im.group(1)) * _INTERVAL_SECS[im.group(2).lower()]
        v, t = args[0].strip(), args[1].strip()
        tt = f"CAST({t} AS DOUBLE)"
        expr = (
            f"GREATEST(CAST(0 AS DOUBLE), COALESCE(try_divide("
            f"(({v}) - LAG({v}) OVER {win}) * {secs},"
            f" {tt} - LAG({tt}) OVER {win}), CAST(0 AS DOUBLE)))"
        )
        sql = sql[:at] + expr + sql[wend:]


def _iso_dow(d: str) -> str:
    """ISO day-of-week 1=Monday..7=Sunday from Spark's Sunday-1 form."""
    return f"(((dayofweek({d}) + 5) % 7) + 1)"


def _to_iso_year(a: list[str]) -> str:
    """``toISOYear(d)``: the ISO-8601 week-numbering year = the calendar
    year of that week's THURSDAY (exact, no week-year format pattern —
    Spark forbids 'Y' in the new parser)."""
    if len(a) != 1:
        raise ChTranslationError("toISOYear takes exactly 1 argument")
    d = f"CAST({a[0]} AS DATE)"
    return f"year(date_add({d}, 4 - {_iso_dow(d)}))"


def _to_start_of_iso_year(a: list[str]) -> str:
    """``toStartOfISOYear(d)``: the Monday of ISO week 1 — January 4th
    is always inside week 1, so back up to its Monday."""
    if len(a) != 1:
        raise ChTranslationError("toStartOfISOYear takes exactly 1 argument")
    return _bind_arr(
        f"make_date({_to_iso_year(a)}, 1, 4)",
        lambda j4: f"date_sub({j4}, {_iso_dow(j4)} - 1)",
    )


def _array_shingles(a: list[str]) -> str:
    """``arrayShingles(arr, n)``: all contiguous length-n windows."""
    if len(a) != 2:
        raise ChTranslationError("arrayShingles takes (array, length)")
    n = f"({a[1]})"
    return _bind_arr(
        a[0],
        lambda arr: (
            f"slice(transform(sequence(1, GREATEST(size({arr}) - {n} + 1, 1)), "
            f"__sh -> slice({arr}, __sh, {n})), 1, "
            f"GREATEST(size({arr}) - {n} + 1, 0))"
        ),
    )


def _array_enumerate_uniq(a: list[str]) -> str:
    """``arrayEnumerateUniq(arr)``: 1-based occurrence counter of each
    element among its equals so far (null-safe equality)."""
    if len(a) != 1:
        raise ChTranslationError("arrayEnumerateUniq takes exactly 1 array")
    return _bind_arr(
        a[0],
        lambda arr: (
            f"transform({arr}, (__eu, __ei) -> "
            f"size(filter(slice({arr}, 1, __ei + 1), __ee -> __ee <=> __eu)))"
        ),
    )


def _array_fill(a: list[str], reverse: bool) -> str:
    """``arrayFill(cond, arr)``: elements where cond is false take the
    value of the nearest PRECEDING true element (leading falses keep
    their own values — the CH contract); arrayReverseFill mirrors via
    double reverse."""
    if len(a) != 2:
        raise ChTranslationError("arrayFill takes (lambda, array)")
    lam, arr = a[0], a[1]
    src = f"reverse({arr})" if reverse else arr
    filled = _bind_arr(
        f"zip_with({src}, transform({src}, {lam}), "
        f"(__fv, __ff) -> named_struct('v', __fv, 'f', __ff))",
        lambda z: (
            f"aggregate({z}, slice(transform({z}, __fz -> __fz.v), 1, 0), "
            f"(__fa, __fe) -> concat(__fa, array("
            f"IF(__fe.f OR size(__fa) = 0, __fe.v, element_at(__fa, -1)))))"
        ),
    )
    return f"reverse({filled})" if reverse else filled


def _ip_in_range(a: list[str]) -> str:
    """``isIPAddressInRange(ip, cidr)``: prefix equality on the UInt32
    forms — both addresses integer-divided by the block size.  IPv4
    only; an IPv6 cidr (contains ':') raises at RUNTIME (lazy branch),
    never returns a silent wrong answer."""
    if len(a) != 2:
        raise ChTranslationError("isIPAddressInRange takes (ip, cidr)")
    base_ip = "element_at(split(" + a[1] + ", '/'), 1)"
    return _bind_arr(
        f"named_struct('n', {_ipv4_string_to_num([a[0]])}, "
        f"'b', {_ipv4_string_to_num([base_ip])}, "
        f"'s', shiftleft(CAST(1 AS BIGINT), LEAST(GREATEST(32 - "
        f"CAST(element_at(split({a[1]}, '/'), 2) AS INT), 0), 32)))",
        lambda st: (
            # guard order matters: v6 cidr → unsupported; malformed cidr →
            # raise (CH throws); v6 ADDRESS against a v4 cidr → 0 (CH's
            # family-mismatch contract); non-IP garbage → raise — never a
            # silent 0.0.0.0 fallback answering membership queries
            f"CASE WHEN contains({a[1]}, ':') THEN "
            f"CAST(raise_error('isIPAddressInRange: IPv6 ranges are not "
            f"supported in this translation') AS BOOLEAN) "
            f"WHEN NOT contains({a[1]}, '/') THEN "
            f"CAST(raise_error('isIPAddressInRange: malformed CIDR "
            f"(expected a.b.c.d/n)') AS BOOLEAN) "
            f"WHEN contains({a[0]}, ':') THEN false "
            f"WHEN NOT ({a[0]} RLIKE '{_IPV4_RE_SQL}') THEN "
            f"CAST(raise_error(concat('isIPAddressInRange: neither IPv4 "
            f"nor IPv6: ', coalesce({a[0]}, 'NULL'))) AS BOOLEAN) "
            f"ELSE ({st}.n DIV {st}.s) = ({st}.b DIV {st}.s) END"
        ),
    )


def _array_cumsum_nonneg(a: list[str]) -> str:
    """``arrayCumSumNonNegative``: running sums clamped at zero — a
    negative running value resets to 0 (the CH contract)."""
    return _bind_arr(
        a[0],
        lambda v: (
            f"aggregate({v}, slice({v}, 1, 0), (__acc, __x) -> concat(__acc, "
            f"array(GREATEST(CASE WHEN size(__acc) = 0 THEN __x "
            f"ELSE element_at(__acc, size(__acc)) + __x END, 0))))"
        ),
    )


def _map_pred(a: list[str], quant: str, name: str) -> str:
    """``mapExists/mapAll((k, v) -> cond, m)`` → exists/forall over
    map_entries with the same one-pass variable substitution mapApply
    uses."""
    if len(a) != 2:
        raise ChTranslationError(f"{name} takes (lambda, map)")
    mm = re.match(
        r"^\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*(.+)$",
        a[0].strip(),
        re.S,
    )
    if not mm:
        raise ChTranslationError(f"{name} requires a ((k, v) -> cond) lambda")
    kvar, vvar, body = mm.group(1), mm.group(2), mm.group(3)
    if kvar == vvar:
        raise ChTranslationError(f"{name} lambda variables must be distinct")
    repl = {kvar: "__mp.key", vvar: "__mp.value"}
    word = rf"\b({re.escape(kvar)}|{re.escape(vvar)})\b"
    out = body
    for m in reversed(_spans_outside_strings(body, word)):
        out = out[: m.start()] + repl[m.group(1)] + out[m.end() :]
    return f"{quant}(map_entries({a[1]}), __mp -> {out})"


def _has_substr(a: list[str]) -> str:
    """``hasSubstr(a, b)``: whether array b appears as a CONTIGUOUS
    subsequence of array a (empty b → true, the CH contract) — slice
    comparison over every start offset, JVM-side."""
    if len(a) != 2:
        raise ChTranslationError("hasSubstr takes (array, subarray)")
    return _bind_arr(
        f"named_struct('a', {a[0]}, 'b', {a[1]})",
        lambda st: (
            f"CASE WHEN size({st}.b) = 0 THEN size({st}.a) >= 0 "
            f"ELSE exists(transform(sequence(1, "
            f"GREATEST(size({st}.a) - size({st}.b) + 1, 1)), "
            f"__hs -> slice({st}.a, __hs, size({st}.b))), "
            f"__sl -> __sl = {st}.b) END"
        ),
    )


def _multi_search_first_position(a: list[str]) -> str:
    """``multiSearchFirstPosition(h, [needles])``: 1-based position of
    the leftmost occurrence of any needle, 0 when none match."""
    if len(a) != 2:
        raise ChTranslationError(
            "multiSearchFirstPosition takes (haystack, [needles])"
        )
    return _bind_arr(
        f"transform({a[1]}, __msn -> locate(__msn, {a[0]}))",
        lambda ps: (
            f"coalesce(array_min(filter({ps}, __msp -> __msp > 0)), 0)"
        ),
    )


def _multi_search_first_index(a: list[str]) -> str:
    """``multiSearchFirstIndex(h, [needles])``: 1-based index of the
    needle with the LEFTMOST occurrence (ties by needle order), 0 when
    none match — min over (position, index) pairs."""
    if len(a) != 2:
        raise ChTranslationError(
            "multiSearchFirstIndex takes (haystack, [needles])"
        )
    pairs = (
        f"filter(transform({a[1]}, (__msn, __msi) -> "
        f"named_struct('p', locate(__msn, {a[0]}), 'i', __msi + 1)), "
        f"__mse -> __mse.p > 0)"
    )
    return _bind_arr(
        pairs,
        lambda ps: (
            f"CASE WHEN size({ps}) = 0 THEN 0 "
            f"ELSE array_min({ps}).i END"
        ),
    )


def _round_duration(a: list[str]) -> str:
    """``roundDuration(x)``: CH's fixed duration buckets — below 1 → 0,
    else the largest bucket ≤ x."""
    if len(a) != 1:
        raise ChTranslationError("roundDuration takes exactly 1 argument")
    buckets = "array(1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, " \
              "3600, 7200, 18000, 36000)"
    x = f"({a[0]})"
    return (
        f"CASE WHEN {x} IS NULL THEN NULL WHEN {x} < 1 THEN 0 "
        f"ELSE aggregate({buckets}, 1, "
        f"(__rdu, __b) -> CASE WHEN {x} >= __b THEN __b ELSE __rdu END) END"
    )


def _round_age(a: list[str]) -> str:
    """``roundAge(x)``: CH's fixed age buckets 0/17/18/25/35/45/55."""
    if len(a) != 1:
        raise ChTranslationError("roundAge takes exactly 1 argument")
    x = f"({a[0]})"
    return (
        f"CASE WHEN {x} IS NULL THEN NULL WHEN {x} < 1 THEN 0 "
        f"WHEN {x} < 18 THEN 17 WHEN {x} < 25 THEN 18 "
        f"WHEN {x} < 35 THEN 25 WHEN {x} < 45 THEN 35 "
        f"WHEN {x} < 55 THEN 45 ELSE 55 END"
    )


def _truncate_scale(a: list[str]) -> str:
    """``truncate(x[, n])``: round toward zero to n decimal places —
    floor for positives, ceil for negatives.  A string-literal second
    argument is SPARK's date-only ``trunc(d, 'unit')`` — emitted by our
    OWN earlier passes (toWeek's year-start anchor) and re-traversed by
    this one (emissions must be idempotent under later rewrites) — so
    it passes through verbatim; CH's trunc takes a numeric scale only."""
    if len(a) not in (1, 2):
        raise ChTranslationError("truncate takes (x[, n])")
    if len(a) == 2 and a[1].strip().startswith("'"):
        return f"trunc({a[0]}, {a[1].strip()})"
    x = f"({a[0]})"
    if len(a) == 1:
        return (
            f"(CASE WHEN {x} >= 0 THEN floor({x}) ELSE ceil({x}) END)"
        )
    p = f"pow(10, ({a[1]}))"
    return (
        f"((CASE WHEN {x} >= 0 THEN floor({x} * {p}) "
        f"ELSE ceil({x} * {p}) END) / {p})"
    )


def _vector_norm(a: list[str], kind: str) -> str:
    """L1/L2/Linf norms over array columns (CH vector functions):
    deterministic left-to-right folds in array order."""
    if len(a) != 1:
        raise ChTranslationError(f"{kind}Norm takes exactly 1 array")
    arr = a[0]
    if kind == "L1":
        return (
            f"aggregate({arr}, CAST(0 AS DOUBLE), "
            f"(__vn, __vx) -> __vn + abs(__vx))"
        )
    if kind == "L2":
        return (
            f"sqrt(aggregate({arr}, CAST(0 AS DOUBLE), "
            f"(__vn, __vx) -> __vn + __vx * __vx))"
        )
    return f"array_max(transform({arr}, __vx -> abs(CAST(__vx AS DOUBLE))))"


def _vector_distance(a: list[str], kind: str) -> str:
    """L1/L2/Linf/L2Squared distances: norm of the element-wise
    difference via zip_with."""
    if len(a) != 2:
        raise ChTranslationError(f"{kind}Distance takes exactly 2 arrays")
    diff = f"zip_with({a[0]}, {a[1]}, (__va, __vb) -> __va - __vb)"
    if kind == "L2Squared":
        return (
            f"aggregate({diff}, CAST(0 AS DOUBLE), "
            f"(__vn, __vx) -> __vn + __vx * __vx)"
        )
    return _vector_norm([diff], kind)


def _dot_product(a: list[str]) -> str:
    if len(a) != 2:
        raise ChTranslationError("dotProduct takes exactly 2 arrays")
    return (
        f"aggregate(zip_with({a[0]}, {a[1]}, "
        f"(__va, __vb) -> CAST(__va AS DOUBLE) * __vb), "
        f"CAST(0 AS DOUBLE), (__dp, __vx) -> __dp + __vx)"
    )


def _cosine_distance(a: list[str]) -> str:
    """``cosineDistance(a, b)`` = 1 − dot/(‖a‖·‖b‖); try_divide → NULL
    on a zero-norm side instead of an ANSI division error."""
    if len(a) != 2:
        raise ChTranslationError("cosineDistance takes exactly 2 arrays")
    return (
        f"(1 - try_divide({_dot_product(a)}, "
        f"{_vector_norm([a[0]], 'L2')} * {_vector_norm([a[1]], 'L2')}))"
    )


def _normalize_vec(a: list[str], kind: str) -> str:
    if len(a) != 1:
        raise ChTranslationError(f"normalize{kind} takes exactly 1 array")
    # the norm must be bound OUTSIDE the per-element lambda (no CSE
    # inside HOF lambdas — inlining it would recompute the fold per
    # element, O(n²))
    return _bind_arr(
        f"named_struct('a', {a[0]}, 'n', {_vector_norm([a[0]], kind)})",
        lambda st: (
            f"transform({st}.a, __vx -> try_divide(__vx, {st}.n))"
        ),
    )


def _to_week(a: list[str]) -> str:
    """``toWeek(d[, mode])`` mode 0 (the default): Sunday-start weeks,
    week 1 = the first week containing a Sunday, earlier days are week 0
    (MySQL WEEK() mode-0).  Exact integer arithmetic: with
    days_before = (8 - jan1_dow) % 7 (jan1_dow in 1=Sunday..7 form),
    week = (dayofyear - days_before + 6) div 7.  Mode 3 is ISO —
    already covered by toISOWeek; other modes refused."""
    if len(a) not in (1, 2):
        raise ChTranslationError("toWeek takes (date[, mode])")
    if len(a) == 2:
        mode = a[1].strip()
        if mode == "3":
            return f"weekofyear({a[0]})"
        if mode != "0":
            raise ChTranslationError(
                f"toWeek mode {mode} is not translatable — only mode 0 "
                "(Sunday-start) and mode 3 (ISO, = toISOWeek) are supported"
            )
    d = f"({a[0]})"
    return (
        f"CAST((dayofyear({d}) "
        f"- (8 - dayofweek(trunc({d}, 'year'))) % 7 + 6) DIV 7 AS INT)"
    )


def _gcd_fold(x: str, y: str) -> str:
    """Bounded Euclid as a JVM-side ``aggregate`` fold: 92 iterations
    cover the 64-bit worst case (consecutive Fibonacci numbers — the
    slowest-converging gcd inputs, log_phi(2^63) ≈ 91 steps)."""
    a = f"CAST(abs(CAST({x} AS BIGINT)) AS BIGINT)"
    b = f"CAST(abs(CAST({y} AS BIGINT)) AS BIGINT)"
    return (
        f"aggregate(sequence(1, 92), named_struct('a', {a}, 'b', {b}), "
        f"(__g, __i) -> CASE WHEN __g.b = 0 THEN __g "
        f"ELSE named_struct('a', __g.b, 'b', __g.a % __g.b) END).a"
    )


def _gcd(args: list[str]) -> str:
    """CH ``gcd(a, b)`` THROWS on a zero argument (GCDLCMImpl calls
    throwIfDivisionLeadsToFPE both ways — ClickHouse
    src/Functions/gcd.cpp); mirrored with a lazily-evaluated
    raise_error branch.  Negatives via abs (boost::integer::gcd
    convention, same as DuckDB)."""
    if len(args) != 2:
        raise ChTranslationError("gcd takes exactly 2 arguments")
    x, y = f"({args[0]})", f"({args[1]})"
    return (
        f"CASE WHEN {x} = 0 OR {y} = 0 THEN "
        f"CAST(raise_error('gcd: division by zero "
        f"(ClickHouse throws on zero arguments)') AS BIGINT) "
        f"ELSE {_gcd_fold(x, y)} END"
    )


def _lcm(args: list[str]) -> str:
    """``lcm(a, b)`` = |a / gcd(a,b) * b| — dividing FIRST keeps the
    intermediate inside 64 bits whenever the result fits (CH wraps
    silently on overflow; Spark would error under ANSI — noted delta).
    Zero arguments throw, as in CH."""
    if len(args) != 2:
        raise ChTranslationError("lcm takes exactly 2 arguments")
    x, y = f"({args[0]})", f"({args[1]})"
    body = _bind_arr(
        _gcd_fold(x, y),
        lambda g: (
            f"abs((CAST({x} AS BIGINT) DIV {g}) * CAST({y} AS BIGINT))"
        ),
    )
    return (
        f"CASE WHEN {x} = 0 OR {y} = 0 THEN "
        f"CAST(raise_error('lcm: division by zero "
        f"(ClickHouse throws on zero arguments)') AS BIGINT) "
        f"ELSE {body} END"
    )


def _round_to_exp2(args: list[str]) -> str:
    """``roundToExp2(x)``: below 1 → 0, else the largest power of two
    ≤ x (docs/en/sql-reference/functions/rounding-functions).  Exact
    bit arithmetic — floor(log2) read off the BINARY STRING length of
    the truncated value, never a float log2 whose boundary rounding
    could land on the wrong side at exact powers of two."""
    if len(args) != 1:
        raise ChTranslationError("roundToExp2 takes exactly 1 argument")
    x = f"({args[0]})"
    return (
        f"CASE WHEN {x} < 1 THEN CAST(0 AS BIGINT) "
        f"ELSE shiftleft(CAST(1 AS BIGINT), "
        f"length(BIN(CAST({x} AS BIGINT))) - 1) END"
    )


def _round_down(args: list[str]) -> str:
    """``roundDown(x, [b1, b2, …])``: largest boundary ≤ x; below the
    lowest boundary, the lowest boundary itself (CH contract).  The
    boundary array is sorted once and folded ascending — boundaries
    need not be pre-sorted in the source query."""
    if len(args) != 2:
        raise ChTranslationError("roundDown takes (x, boundary_array)")
    x = f"({args[0]})"
    return _bind_arr(
        f"array_sort({args[1]})",
        lambda s: (
            # NULL x must propagate — without the guard, every NULL >= b
            # comparison falls to ELSE and the fold returns the LOWEST
            # boundary instead of NULL
            f"CASE WHEN {x} IS NULL THEN NULL ELSE "
            f"aggregate(slice({s}, 2, size({s}) - 1), element_at({s}, 1), "
            f"(__rd, __b) -> CASE WHEN {x} >= __b THEN __b ELSE __rd END) END"
        ),
    )


def _string_jaccard(args: list[str]) -> str:
    """``stringJaccardIndex[UTF8](s1, s2)``: Jaccard similarity of the
    two strings' character sets.  Spark strings are UTF-8/code-point
    native, so this matches CH's UTF8 variant exactly (and the byte
    variant on ASCII data; supplementary-plane chars split into
    surrogate halves — noted).  An EMPTY input on either side → 0.0
    (the CH implementation early-returns 0 for an empty haystack or
    needle — deliberately NOT the set-theoretic J(∅,∅)=1).
    ``split(s, '')`` yields [''] for the empty string, hence the
    empty-element filter."""
    if len(args) != 2:
        raise ChTranslationError("stringJaccardIndex takes (s1, s2)")
    sets = (
        f"named_struct("
        f"'x', array_distinct(filter(split({args[0]}, ''), __c -> __c != '')), "
        f"'y', array_distinct(filter(split({args[1]}, ''), __c -> __c != '')))"
    )
    return _bind_arr(
        sets,
        lambda st: (
            f"CASE WHEN size({st}.x) = 0 OR size({st}.y) = 0 "
            f"THEN CAST(0.0 AS DOUBLE) "
            f"ELSE size(array_intersect({st}.x, {st}.y)) "
            f"/ CAST(size(array_union({st}.x, {st}.y)) AS DOUBLE) END"
        ),
    )


def _entropy(args: list[str]) -> str:
    """``entropy(x)`` aggregate: Shannon entropy -Σ p·log2(p) over the
    value distribution.  Deterministic where CH's float accumulation is
    order-dependent: per-value counts are exact integers and the final
    float sum folds over the SORTED distinct values, so repeated runs
    hash identically (cross-engine agreement still needs rounding, as
    any float aggregate here does)."""
    if len(args) != 1:
        raise ChTranslationError("entropy takes exactly 1 argument")
    cl = f"collect_list({args[0]})"
    st = (
        f"named_struct('l', {cl}, 'd', array_sort(array_distinct({cl})))"
    )
    return _bind_arr(
        st,
        lambda s: (
            f"aggregate(transform({s}.d, __v -> "
            f"size(filter({s}.l, __e -> __e <=> __v)) "
            f"/ CAST(size({s}.l) AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (__en, __p) -> __en - __p * log2(__p))"
        ),
    )


def _map_populate_series(args: list[str]) -> str:
    """``mapPopulateSeries(keys, values[, max])`` → CH's tuple-of-arrays
    shape ``(keys, values)`` with every integer key from min(keys) to
    max filled in, absent keys valued 0; the 1-arg Map form returns a
    Map.  Keys are widened to BIGINT (CH preserves the input width —
    noted).  Spark ``sequence`` auto-descends when max < min, so the
    series is clamp+sliced to empty instead (matching CH's empty
    result), and map lookups go through try_element_at (plain
    element_at ERRORS on absent keys under ANSI mode)."""
    if len(args) == 1:
        m = args[0]
        return _bind_arr(
            m,
            lambda mm: _bind_arr(
                f"named_struct('m', {mm}, "
                f"'s', sequence(CAST(array_min(map_keys({mm})) AS BIGINT), "
                f"CAST(array_max(map_keys({mm})) AS BIGINT)))",
                lambda s: (
                    f"CASE WHEN cardinality({s}.m) = 0 THEN {s}.m "
                    f"ELSE map_from_arrays({s}.s, transform({s}.s, "
                    f"__i -> coalesce(try_element_at({s}.m, __i), 0))) END"
                ),
            ),
        )
    if len(args) in (2, 3):
        k, v = args[0], args[1]

        def _series(kk: str) -> str:
            # evaluated in the OUTER bind's scope (kk = the cast keys);
            # only two nesting levels total — a third _bind_arr would
            # shadow __arr and silently rebind earlier references
            lo = f"CAST(array_min({kk}) AS BIGINT)"
            hi = (
                f"CAST(({args[2]}) AS BIGINT)"
                if len(args) == 3
                else f"CAST(array_max({kk}) AS BIGINT)"
            )
            return (
                f"slice(sequence({lo}, GREATEST({hi}, {lo})), 1, "
                f"CAST(GREATEST({hi} - {lo} + 1, 0) AS INT))"
            )

        return _bind_arr(
            f"transform({k}, __x -> CAST(__x AS BIGINT))",
            lambda kk: _bind_arr(
                f"named_struct('m', map_from_arrays({kk}, {v}), "
                f"'s', {_series(kk)})",
                lambda s: (
                    f"CASE WHEN {s}.s IS NULL THEN named_struct("
                    f"'keys', CAST(array() AS ARRAY<BIGINT>), "
                    f"'values', slice({v}, 1, 0)) "
                    f"ELSE named_struct('keys', {s}.s, "
                    f"'values', transform({s}.s, __i -> "
                    f"coalesce(try_element_at({s}.m, __i), 0))) END"
                ),
            ),
        )
    raise ChTranslationError(
        "mapPopulateSeries takes (keys, values[, max]) or (map)"
    )


def _replace_regexp_one(args: list[str]) -> str:
    """``replaceRegexpOne(s, pattern, repl)``: replace only the FIRST
    regex match — Spark's regexp_replace is always replace-all, so the
    first match is located with regexp_instr/regexp_extract (same
    leftmost-first semantics) and spliced out.  CH backreferences
    ``\\0``–``\\9`` in a LITERAL replacement expand to
    regexp_extract(s, p, N) of that same first match; non-literal
    replacements pass through verbatim (backrefs in them are not
    expanded — noted)."""
    if len(args) != 3:
        raise ChTranslationError("replaceRegexpOne takes (s, pattern, repl)")
    s, p, r = args

    def _repl_expr(st: str) -> str:
        if not (len(r) >= 2 and r[0] == "'" and r[-1] == "'"):
            return r  # non-literal replacement: no backref expansion
        # body is Spark-escaped TEXT: each replacement-VALUE backslash is
        # the text pair ``\\``.  re2 rewrite semantics on the value:
        # backslash+digit = group ref, backslash+backslash = literal
        # backslash in the output.
        body = r[1:-1]
        parts: list[str] = []  # quoted chunks and extract() calls
        cur: list[str] = []
        i = 0
        while i < len(body):
            c = body[i]
            if c == "\\" and i + 1 < len(body):
                if body[i + 1] == "\\":
                    # value backslash — what does it escape in re2?
                    if i + 2 < len(body) and body[i + 2].isdigit():
                        # value \N = backref to group N of the SAME match
                        if cur:
                            parts.append("'" + "".join(cur) + "'")
                            cur = []
                        parts.append(
                            f"regexp_extract({st}.s, {p}, {body[i + 2]})"
                        )
                        i += 3
                        continue
                    if body[i + 2 : i + 4] == "\\\\":
                        # value \\ = one literal backslash in the output
                        cur.append("\\\\")
                        i += 4
                        continue
                    # lone value backslash (re2 would reject) — keep it
                    cur.append("\\\\")
                    i += 2
                    continue
                # other escape pair (\n, \t, …): copy atomically
                cur.append(body[i : i + 2])
                i += 2
                continue
            cur.append(c)
            i += 1
        if cur:
            parts.append("'" + "".join(cur) + "'")
        if not parts:
            return "''"
        if len(parts) == 1:
            return parts[0]
        return "concat(" + ", ".join(parts) + ")"

    return _bind_arr(
        f"named_struct('s', {s}, 'i', regexp_instr({s}, {p}), "
        f"'m', regexp_extract({s}, {p}, 0))",
        lambda st: (
            f"CASE WHEN {st}.i = 0 OR {st}.i IS NULL THEN {st}.s "
            f"ELSE concat(substring({st}.s, 1, {st}.i - 1), "
            f"{_repl_expr(st)}, "
            f"substring({st}.s, {st}.i + length({st}.m))) END"
        ),
    )


def _fold_binary(fn: str, args: list[str]) -> str:
    """Left-fold a binary SQL function over N arguments:
    ``f(f(a, b), c)…`` — for the N-ary array set operations."""
    acc = args[0]
    for nxt in args[1:]:
        acc = f"{fn}({acc}, {nxt})"
    return acc


_JSON_EXTRACT_TYPES = {
    "int8": "BIGINT", "int16": "BIGINT", "int32": "BIGINT",
    "int64": "BIGINT",
    "uint8": "BIGINT", "uint16": "BIGINT", "uint32": "BIGINT",
    "uint64": "DECIMAL(20,0)",
    "float32": "DOUBLE", "float64": "DOUBLE",
    "string": None, "bool": "BOOLEAN",
}


def _json_extract_generic(a: list[str]) -> str:
    """``JSONExtract(json, [path…,] 'Type')`` for the scalar types —
    same machinery as the JSONExtract<T> fixed forms; Nullable(T)
    unwraps (extraction is nullable either way)."""
    if len(a) < 2:
        raise ChTranslationError(
            "JSONExtract takes (json, [path…,] 'Type')")
    t = a[-1].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise ChTranslationError(
            "JSONExtract needs a literal type name as its last argument")
    tn = t[1:-1].strip()
    m = re.fullmatch(r"Nullable\((\w+)\)", tn)
    if m:
        tn = m.group(1)
    cast = _JSON_EXTRACT_TYPES.get(tn.lower(), "missing")
    if cast == "missing":
        raise ChTranslationError(
            f"JSONExtract type {tn!r} — only the scalar types translate"
            " (use JSONExtractArrayRaw / JSONExtractKeysAndValues for"
            " the composite forms)")
    return _json_extract(a[:-1], cast)


def _change_date_fn(part: str):
    """``changeYear/Month/Day/Hour/Minute/Second(d, v)`` — recompose via
    make_timestamp with subsecond micros preserved.  Day overflow after
    a year/month change saturates to the target month's last day (CH
    saturates there); an explicitly out-of-range component raises under
    ANSI like CH's exception."""
    def rw(a: list[str]) -> str:
        if len(a) != 2:
            raise ChTranslationError(f"change{part.title()} takes (d, v)")
        ts = f"CAST({a[0]} AS TIMESTAMP)"
        v = a[1]
        y = f"CAST({v} AS INT)" if part == "year" else f"year({ts})"
        mo = f"CAST({v} AS INT)" if part == "month" else f"month({ts})"
        if part in ("year", "month"):
            dd = (f"least(day({ts}), "
                  f"day(last_day(make_date({y}, {mo}, 1))))")
        elif part == "day":
            dd = f"CAST({v} AS INT)"
        else:
            dd = f"day({ts})"
        h = f"CAST({v} AS INT)" if part == "hour" else f"hour({ts})"
        mi = f"CAST({v} AS INT)" if part == "minute" else f"minute({ts})"
        if part == "second":
            sec = f"CAST({v} AS DECIMAL(20, 6))"
        else:
            sec = (f"(CAST(pmod(unix_micros({ts}), 60000000) "
                   f"AS DECIMAL(20, 6)) / 1000000)")
        return f"make_timestamp({y}, {mo}, {dd}, {h}, {mi}, {sec})"
    return rw


def _json_extract(args: list[str], cast: str | None) -> str:
    """``JSONExtract*(json, 'a', 2, 'b')`` → ``get_json_object(json,
    '$.a[1].b')`` — literal string keys become members, literal integer
    indices (ClickHouse 1-based) become 0-based JSONPath subscripts."""
    if len(args) < 2:
        raise ChTranslationError("JSONExtract* needs (json, key...) arguments")
    path = "$"
    for key in args[1:]:
        k = key.strip()
        if k.startswith("'") and k.endswith("'"):
            path += f".{k[1:-1]}"
        elif re.fullmatch(r"-?\d+", k):
            idx = int(k)
            if idx < 1:
                raise ChTranslationError("JSON path indices are 1-based in ClickHouse")
            path += f"[{idx - 1}]"
        else:
            raise ChTranslationError(
                f"JSONExtract* requires literal keys/indices, got {k!r}"
            )
    expr = f"get_json_object({args[0]}, '{path}')"
    return f"CAST({expr} AS {cast})" if cast else expr


def _decimal_arith_fn(name: str, udf: str):
    """``divideDecimal(a, b, s)`` / ``multiplyDecimal(a, b, s)`` — CH
    TRUNCATES the exact result toward zero at the result scale where
    every Spark decimal operation HALF_UPs (the silent delta these were
    refused over).  Operands travel as their exact string forms into an
    integer-arithmetic Arrow UDF; the exact-truncated string CASTs back
    to DECIMAL(38, s) losslessly (it carries exactly s fraction
    digits).  The 2-arg form refuses: CH's default result scale derives
    from the argument DECIMAL types, unknowable at SQL-text level.
    Division by zero → NULL (CH raises; ANSI-safe reading, noted)."""
    def rw(a: list[str]) -> str:
        if len(a) != 3:
            raise ChTranslationError(
                f"{name}(a, b, result_scale) — pass the result scale"
                " explicitly (CH's default derives from the argument"
                " DECIMAL types, unknowable at SQL-text level)")
        s = a[2].strip()
        if not re.fullmatch(r"\d+", s) or int(s) > 37:
            raise ChTranslationError(
                f"{name} result scale must be an integer literal 0..37"
                " (Spark's DECIMAL(38) ceiling; CH Decimal256 reaches"
                " 76)")
        return (f"CAST({udf}(CAST({a[0]} AS STRING),"
                f" CAST({a[1]} AS STRING), {s}) AS DECIMAL(38, {s}))")
    return rw


def _to_decimal_string_fn(a: list[str]) -> str:
    """``toDecimalString(x, scale)`` — fixed-scale text rendering,
    rounding half AWAY FROM ZERO (CH round-on-decimal semantics; Java's
    format_string half-ups the shortest repr instead — the delta the
    refusal recorded).  Exact quantization from the value's string
    form."""
    if len(a) != 2:
        raise ChTranslationError("toDecimalString takes (value, scale)")
    s = a[1].strip()
    if not re.fullmatch(r"\d+", s) or int(s) > 60:
        raise ChTranslationError(
            "toDecimalString scale must be an integer literal (CH caps"
            " at 77 total digits; 60 here)")
    return f"ch_to_decimal_string(CAST({a[0]} AS STRING), {s})"


def _json_path_segments(args: list[str], name: str) -> str:
    """Encode CH JSON path arguments (literal string keys / 1-based or
    negative integer indices) as a JSON list literal for the ch_json_*
    UDFs.  Non-literal paths refuse — same contract as _json_extract."""
    import json as _json

    segs: list = []
    for key in args:
        k = key.strip()
        if k.startswith("'") and k.endswith("'"):
            segs.append(k[1:-1].replace("''", "'"))
        elif re.fullmatch(r"-?\d+", k):
            segs.append(int(k))
        else:
            raise ChTranslationError(
                f"{name} requires literal keys/indices, got {k!r}"
            )
    return _json.dumps(segs, ensure_ascii=False).replace("'", "''")


def _json_type_fn(a: list[str]) -> str:
    """``JSONType(j[, path...])`` → ch_json_type Arrow UDF (Spark has no
    JSON type introspection; get_json_object strips the quotes that
    distinguish "5" from 5, so a text-level rewrite would silently
    misclassify strings)."""
    if not a:
        raise ChTranslationError("JSONType needs (json[, keys...])")
    return f"ch_json_type({a[0]}, '{_json_path_segments(a[1:], 'JSONType')}')"


def _json_array_raw_fn(a: list[str]) -> str:
    """``JSONExtractArrayRaw(j[, path...])`` → ch_json_array_raw Arrow
    UDF: array of raw JSON element slices (strings keep quotes, nested
    structures stay JSON — exactly what get_json_object cannot
    express)."""
    if not a:
        raise ChTranslationError("JSONExtractArrayRaw needs (json[, keys...])")
    return (f"ch_json_array_raw({a[0]},"
            f" '{_json_path_segments(a[1:], 'JSONExtractArrayRaw')}')")


_JSON_KV_TYPES = {
    "Int8": "BIGINT", "Int16": "BIGINT", "Int32": "BIGINT",
    "Int64": "BIGINT", "UInt8": "BIGINT", "UInt16": "BIGINT",
    "UInt32": "BIGINT", "UInt64": "BIGINT",
    "Float32": "DOUBLE", "Float64": "DOUBLE",
}


def _json_kv_fn(a: list[str]) -> str:
    """``JSONExtractKeysAndValues(j[, path...], 'T')`` →
    Array(Tuple(String, T)) as array<struct<_1,_2>> — pure JVM
    composition: from_json to map<string,string> (always parses an
    object; one from_json with the typed map would NULL the whole map on
    a single non-conforming value), then per-entry try_cast with
    non-conforming entries FILTERED (CH's JSONExtract conversion is
    best-effort — numeric strings convert, anything else is skipped;
    try_cast reproduces that for the numeric types).  Malformed/missing
    documents → [] like CH.  'String' and 'Bool' are refused: after
    map<string,string> the number 5 and the string "5" (or true and
    "true") are indistinguishable, and Spark's string→boolean cast
    additionally accepts 'no'/'yes'/'0'/'1' — either would silently
    diverge; use JSONExtractKeys + the typed JSONExtract* per key."""
    if len(a) < 2:
        raise ChTranslationError(
            "JSONExtractKeysAndValues(json[, keys...], 'Type')")
    t = a[-1].strip()
    if not (t.startswith("'") and t.endswith("'")):
        raise ChTranslationError(
            "JSONExtractKeysAndValues needs a literal type name last")
    tname = t[1:-1]
    if tname in ("String", "Bool"):
        raise ChTranslationError(
            f"JSONExtractKeysAndValues(..., '{tname}') cannot distinguish"
            " the number 5 from the string \"5\" (or true from \"true\")"
            " after extraction — use JSONExtractKeys + the typed"
            " JSONExtract* per key")
    typ = _JSON_KV_TYPES.get(tname)
    if typ is None:
        raise ChTranslationError(
            f"JSONExtractKeysAndValues over type {tname!r} — scalar"
            " numeric/Bool types only")
    src = a[0] if len(a) == 2 else _json_extract(a[:-1], None)
    inner = f"from_json({src}, 'map<string,string>')"
    return (
        "COALESCE(filter(transform(map_entries(" + inner + "),"
        " __kv_e -> named_struct('_1', __kv_e.key,"
        f" '_2', try_cast(__kv_e.value AS {typ}))),"
        " __kv_s -> __kv_s._2 IS NOT NULL),"
        f" CAST(array() AS ARRAY<STRUCT<_1: STRING, _2: {typ}>>))"
    )


def _extract_regex(args: list[str]) -> str:
    """``extract(s, 're')`` → ``regexp_extract(s, 're', g)`` where g = 1
    when the literal pattern contains an unescaped capture group (ClickHouse
    returns the first group if present, else the whole match)."""
    if len(args) == 1:
        # ANSI EXTRACT(unit FROM expr) — not the ClickHouse regex form;
        # reconstruct untouched
        return f"extract({args[0]})"
    if len(args) != 2:
        raise ChTranslationError("extract needs (haystack, 'pattern')")
    pat = args[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise ChTranslationError("extract requires a literal pattern")
    body = pat[1:-1]
    has_group = bool(re.search(r"(?<!\\)\((?!\?)", body))
    return f"regexp_extract({args[0]}, {pat}, {1 if has_group else 0})"


def _split_by_char(args: list[str]) -> str:
    sep, s = args[0], args[1]
    if sep.startswith("'") and sep.endswith("'"):
        lit = re.escape(sep[1:-1]).replace("\\", "\\\\")
        return f"split({s}, '{lit}')"
    raise ChTranslationError("splitByChar requires a literal separator")


def _spans_outside_strings(sql: str, word_re: str) -> list[re.Match]:
    """Matches of ``word_re`` whose start lies outside string literals
    (any paren depth — for keywords that are legal inside subqueries)."""
    return [
        m
        for m in re.finditer(word_re, sql, re.IGNORECASE)
        if not _in_string(sql, m.start())
    ]


def _sub_outside_strings(sql: str, word_re: str, repl: str) -> str:
    """Like re.sub, but leaves matches inside string literals untouched."""
    out = sql
    for m in reversed(_spans_outside_strings(sql, word_re)):
        out = out[: m.start()] + repl + out[m.end() :]
    return out


def _top_level_spans(sql: str, word_re: str) -> list[re.Match]:
    """Matches of ``word_re`` at paren-depth 0, outside string literals."""
    out = []
    depth, in_str = 0, False
    for m in re.finditer(word_re, sql, re.IGNORECASE):
        d, s = 0, False
        for c in sql[: m.start()]:
            if s:
                s = c != "'"
            elif c == "'":
                s = True
            elif c in "([":
                d += 1
            elif c in ")]":
                d -= 1
        if d == 0 and not s:
            out.append(m)
    return out


def _rewrite_array_join(sql: str) -> str:
    """ClickHouse's ``[LEFT] ARRAY JOIN expr AS alias`` clause → Spark
    ``LATERAL VIEW explode[_outer](expr) __aj_alias AS alias``.

    LEFT ARRAY JOIN keeps rows with empty/NULL arrays (→ explode_outer).
    The alias-less form (``ARRAY JOIN xs``, where CH rebinds the column
    name to the element) is refused: in Spark the generated column would
    be ambiguous against the still-visible array column.

    Multi-array zipping (``ARRAY JOIN xs AS x, ys AS y``) — CH pairs the
    arrays element-wise — becomes ``posexplode`` of the FIRST array plus
    one single-element lateral per further array binding its alias to
    ``element_at(arr, pos + 1)``.  Equal lengths are a CH precondition
    (it errors otherwise); here a shorter later array yields NULLs
    (ANSI mode: an error) rather than dropping rows — documented delta."""
    pat = (
        r"(?s)\b(LEFT\s+)?ARRAY\s+JOIN\s+(.*?)"
        r"(?=\b(?:WHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS|UNION|JOIN)\b"
        r"|\b(?:INNER|LEFT|RIGHT|FULL|CROSS)\s+(?:ARRAY\s+)?JOIN\b"
        r"|$)"
    )
    spans = _top_level_spans(sql, pat)
    if not spans:
        return sql
    out = sql
    for m in reversed(spans):
        outer = bool(m.group(1))
        clause = m.group(2).strip().rstrip(",")
        args = _split_args(clause)
        parsed = []
        for a in args:
            am = re.match(r"^(.*?)\s+AS\s+([A-Za-z_]\w*)$", a, re.IGNORECASE | re.DOTALL)
            if not am:
                raise ChTranslationError(
                    "ARRAY JOIN without AS rebinds the source column name; "
                    "give the element an alias (ARRAY JOIN xs AS x)"
                )
            parsed.append((am.group(1).strip(), am.group(2)))
        expr, alias = parsed[0]
        if len(parsed) == 1:
            fn = "explode_outer" if outer else "explode"
            rep = f" LATERAL VIEW {fn}({expr}) __aj_{alias} AS {alias} "
        else:
            # element-wise zip: posexplode the first array, bind each
            # further alias to element_at(arr, pos + 1) via a one-element
            # lateral (laterals may reference earlier laterals' columns)
            fn = "posexplode_outer" if outer else "posexplode"
            pos = f"__aj_pos_{alias}"
            rep = f" LATERAL VIEW {fn}({expr}) __aj_{alias} AS {pos}, {alias} "
            for e_i, a_i in parsed[1:]:
                rep += (
                    f"LATERAL VIEW explode(array(element_at({e_i}, {pos} + 1))) "
                    f"__aj_{a_i} AS {a_i} "
                )
        # Spark's FROM grammar puts lateral views AFTER all join clauses
        # (CH allows ARRAY JOIN before a regular JOIN), so the clause is
        # removed here and the LATERAL VIEW inserted at the end of the
        # FROM section — before the first top-level WHERE/GROUP/…
        out = out[: m.start()] + " " + out[m.end() :]
        after = _top_level_spans(
            out, r"\b(WHERE|GROUP|ORDER|LIMIT|HAVING|SETTINGS|UNION)\b"
        )
        ins = next((s.start() for s in after if s.start() >= m.start()), len(out))
        out = out[:ins] + rep + out[ins:]
    return out


_ORDER_KEYWORDS = frozenset(
    "ASC DESC NULLS FIRST LAST AND OR NOT CASE WHEN THEN ELSE END IS NULL "
    "IN LIKE BETWEEN TRUE FALSE INTERVAL AS DISTINCT".split()
)


def _check_limit_by_columns(inner: str, refs: str) -> str:
    """The LIMIT BY rewrite runs the ranked window over the ORIGINAL
    query's output, so every column the ORDER BY / BY list references must
    appear in its SELECT list (ClickHouse can reach table columns there;
    the subquery cannot).  Raise the module's contractual error with the
    fix instead of letting Spark fail analysis with UNRESOLVED_COLUMN.

    Returns ``refs`` with table qualifiers stripped from top-level dotted
    chains (``t.col`` → ``col``): the subquery alias ``__q`` hides the
    inner table aliases, so the qualified form would never resolve in the
    window clause."""
    fr = _top_level_spans(inner, r"\bFROM\b")
    sm = re.match(r"(?is)^\s*SELECT\s+", inner)
    outputs: set[str] | None = None  # None → membership unknown, don't raise
    if sm and fr:
        sel = inner[sm.end() : fr[0].start()]
        if not re.search(r"(^|[\s,])\*", sel):  # SELECT * exposes everything
            outputs = set()
            for item in _split_args(sel):
                am = re.search(r"(?is)\bAS\s+([A-Za-z_]\w*)\s*$", item)
                tm = am or re.search(r"([A-Za-z_]\w*)\s*$", item)
                if tm:
                    outputs.add(tm.group(1).lower())
    # same-length scrub with string-literal contents blanked: identifiers
    # inside literals are data, never rewritten or checked
    scrub = re.sub(
        r"'[^']*'", lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", refs
    )
    # prefix paren depth: identifiers INSIDE a call's argument list (abs(v))
    # are expression inputs, not required output columns — skip them; if the
    # expression truly references a missing column Spark still fails loudly
    # with UNRESOLVED_COLUMN (never a silent wrong answer).
    depth_at = []
    d = 0
    for c in scrub:
        depth_at.append(d)
        if c == "(":
            d += 1
        elif c == ")":
            d = max(0, d - 1)
    edits: list[tuple[int, int, str]] = []  # (start, end, replacement)
    for im in re.finditer(
        r"\b([A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*)\b(\s*\()?", scrub
    ):
        chain = im.group(1)
        # table-qualified t.col: the subquery alias __q hides inner table
        # aliases, so only the trailing component resolves — check it, and
        # collapse the chain to it in the returned refs
        name = re.split(r"\s*\.\s*", chain)[-1]
        if im.group(2) or name.upper() in _ORDER_KEYWORDS:
            continue  # function call or syntax keyword
        if depth_at[im.start()] > 0:
            continue  # inside a function call's argument list
        if outputs is not None and name.lower() not in outputs:
            raise ChTranslationError(
                f"LIMIT BY: column {name!r} is not in the SELECT list — the "
                "ranked-window rewrite can only order/partition by selected "
                f"columns; add {name!r} to the SELECT"
            )
        if "." in chain:
            edits.append((im.start(1), im.end(1), name))
    for s, e, rep in reversed(edits):
        refs = refs[:s] + rep + refs[e:]
    return refs


def _inner_is_plain_projection(inner: str) -> bool:
    """True when ``inner`` is a simple ``SELECT <exprs> FROM …`` with no
    top-level GROUP BY / HAVING / DISTINCT / set operation — the shapes
    where a window expression can be injected into the SELECT list and
    still see the base-table columns."""
    if _top_level_spans(
        inner,
        r"\b(GROUP\s+BY|HAVING|UNION|INTERSECT|EXCEPT)\b",
    ):
        return False
    if re.match(r"(?is)^\s*SELECT\s+DISTINCT\b", inner):
        return False
    return bool(_top_level_spans(inner, r"\bFROM\b")) and bool(
        re.match(r"(?is)^\s*SELECT\s+", inner)
    )


def _split_order_keys(order: str) -> list[tuple[str, str]]:
    """Split an ORDER BY list into ``(expr, direction-suffix)`` pairs."""
    out = []
    for item in _split_args(order):
        m = re.match(
            r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
            item,
        )
        out.append((m.group(1).strip(), m.group(2).strip()))
    return out


def _ranked_rewrite(
    inner: str, order: str, partition: str | None, rank_fn: str, cond: str
) -> str:
    """Shared core of the LIMIT BY / LIMIT WITH TIES rewrites: rank rows of
    ``inner`` by a window and keep those satisfying ``cond`` (over ``__rn``),
    preserving the ORDER BY output ordering.

    Two strategies:

    * plain projection — the window (and ``__ord<i>`` copies of the ORDER BY
      keys) is injected into the ORIGINAL select list, so ORDER BY / BY
      expressions over unselected table columns (``abs(v)``, ``t.col``)
      resolve exactly as ClickHouse resolves them;
    * otherwise (GROUP BY / DISTINCT / set ops) — the original query is
      wrapped as subquery ``__q`` and every referenced column must be in its
      SELECT list (checked, with qualifiers stripped, by
      ``_check_limit_by_columns``)."""
    over = f"PARTITION BY {partition} ORDER BY {order}" if partition else f"ORDER BY {order}"
    if _inner_is_plain_projection(inner):
        keys = _split_order_keys(order)
        helpers = [f"({e}) AS __ord{i}" for i, (e, _) in enumerate(keys)]
        outer_order = ", ".join(
            f"__ord{i} {sfx}".strip() for i, (_, sfx) in enumerate(keys)
        )
        fr = _top_level_spans(inner, r"\bFROM\b")[0]
        injected = (
            inner[: fr.start()]
            + ", "
            + ", ".join(helpers)
            + f", {rank_fn}() OVER ({over}) AS __rn "
            + inner[fr.start() :]
        )
        dropped = ", ".join(["__rn"] + [f"__ord{i}" for i in range(len(keys))])
        return (
            f"SELECT * EXCEPT ({dropped}) FROM ({injected}) "
            f"WHERE {cond} ORDER BY {outer_order}"
        )
    order = _check_limit_by_columns(inner, order)
    if partition:
        partition = _check_limit_by_columns(inner, partition)
        over = f"PARTITION BY {partition} ORDER BY {order}"
    else:
        over = f"ORDER BY {order}"
    return (
        f"SELECT * EXCEPT (__rn) FROM (SELECT __q.*, {rank_fn}() OVER "
        f"({over}) AS __rn FROM ({inner}) AS __q) "
        f"WHERE {cond} ORDER BY {order}"
    )


def _rewrite_limit_with_ties(sql: str) -> str:
    """``ORDER BY … LIMIT n WITH TIES`` → ``rank() OVER (ORDER BY …) <= n``
    — rank() (not row_number) extends the cut to every row tying with the
    n-th, which is exactly the WITH TIES contract."""
    wt = _top_level_spans(sql, r"\bLIMIT\s+(\d+)\s+WITH\s+TIES\b")
    if not wt:
        return sql
    m = wt[0]
    n = int(m.group(1))
    ob = _top_level_spans(sql, r"\bORDER\s+BY\s+")
    if not ob or ob[0].start() > m.start():
        raise ChTranslationError("LIMIT WITH TIES requires a top-level ORDER BY")
    order = sql[ob[0].end() : m.start()].strip()
    inner = sql[: ob[0].start()].strip()
    if sql[m.end() :].strip():
        raise ChTranslationError("LIMIT WITH TIES must be the final clause")
    return _ranked_rewrite(inner, order, None, "rank", f"__rn <= {n}")


def _rewrite_limit_by(sql: str) -> str:
    """ClickHouse ``ORDER BY … LIMIT n BY c1[, c2] [LIMIT m]`` → ranked
    subquery (``row_number() OVER (PARTITION BY cols ORDER BY order) <= n``).
    CH applies ORDER BY before LIMIT BY and the plain LIMIT after; the
    rewrite preserves exactly that sequencing.  An ORDER BY is required —
    without one CH's per-group pick is arbitrary, which no deterministic
    engine translation should reproduce silently."""
    lb = _top_level_spans(sql, r"\bLIMIT\s+(?:(\d+)\s*,\s*)?(\d+)\s+BY\s+")
    if not lb:
        return sql
    if len(lb) > 1:
        raise ChTranslationError("multiple LIMIT BY clauses")
    m = lb[0]
    off = int(m.group(1) or 0)  # CH `LIMIT offset, n BY` skips the first rows
    n = int(m.group(2))
    ob = _top_level_spans(sql, r"\bORDER\s+BY\s+")
    if not ob or ob[0].start() > m.start():
        raise ChTranslationError("LIMIT BY requires a top-level ORDER BY")
    order = sql[ob[0].end() : m.start()].strip()
    inner = sql[: ob[0].start()].strip()
    rest = sql[m.end() :]
    tail = re.match(r"^(.*?)(?:\s+LIMIT\s+(\d+))?\s*$", rest, re.IGNORECASE | re.DOTALL)
    cols = tail.group(1).strip()
    outer_limit = tail.group(2)
    cond = f"__rn <= {n}" if not off else f"__rn BETWEEN {off + 1} AND {off + n}"
    out = _ranked_rewrite(inner, order, cols, "row_number", cond)
    if outer_limit:
        out += f" LIMIT {outer_limit}"
    return out


# words that can directly precede a bare `[` literal (vs. a subscript base)
_PRE_LITERAL_KEYWORDS = frozenset(
    "SELECT WHERE WHEN THEN ELSE AND OR NOT IN ON HAVING BY UNION ALL "
    "DISTINCT AS CASE END RETURN VALUES SET".split()
)


# expressions that provably produce arrays — gates the subscript INT cast
_ARRAY_PRODUCER_RE = re.compile(
    r"^(array|splitBy\w+|split|range|sequence|emptyArray\w*|extractAll|"
    r"arrayMap|arrayFilter|arraySlice|arraySort|arrayReverseSort|"
    r"arrayConcat|arrayCompact|arrayDistinct|arrayShingles|groupArray|"
    r"topK)\s*\(",
    re.IGNORECASE,
)


def _rewrite_brackets(sql: str) -> str:
    """ClickHouse bracket syntax → portable calls.

    * Array literals ``[1, 2]`` → ``array(1, 2)`` (Spark has no bracket
      literals).
    * Subscripts ``expr[k]`` → ``element_at(expr, k)`` — CH arrays are
      1-indexed and CH map access is by key; ``element_at`` has exactly
      those semantics for both types, whereas Spark's native ``a[i]``
      subscript is 0-based for arrays (a silent off-by-one if left alone).
    """
    out: list[str] = []
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        c = sql[i]
        if in_str:
            out.append(c)
            if c == "'":
                in_str = False
            i += 1
            continue
        if c == "'":
            out.append(c)
            in_str = True
            i += 1
            continue
        if c != "[":
            out.append(c)
            i += 1
            continue
        # find the matching ']' (strings + nested ()/[] aware)
        depth, j, s2 = 1, i + 1, False
        while j < n and depth:
            ch = sql[j]
            if s2:
                s2 = ch != "'"
            elif ch == "'":
                s2 = True
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            j += 1
        inner = _rewrite_brackets(sql[i + 1 : j - 1])
        emitted = "".join(out)
        trimmed = emitted.rstrip()
        prev = trimmed[-1:] if trimmed else ""
        word = re.search(r"([A-Za-z_]\w*)$", trimmed)
        is_literal = (
            not prev
            or prev in "(,[+-*/%<>=|&!"
            or (word and word.group(1).upper() in _PRE_LITERAL_KEYWORDS)
        )
        if is_literal:
            out = [emitted + f"array({inner})"]
        else:
            # pop the base expression: trailing call/paren group and/or
            # dotted identifier chain, e.g. `t.arr`, `f(x)`, `m['k']`-chain
            k = len(trimmed)
            while k > 0:
                ch = trimmed[k - 1]
                if ch in ")]":
                    d = 1
                    k -= 1
                    while k > 0 and d:
                        k -= 1
                        if trimmed[k] in ")]":
                            d += 1
                        elif trimmed[k] in "([":
                            d -= 1
                elif ch.isalnum() or ch in "_.`":
                    k -= 1
                else:
                    break
            base = trimmed[k:]
            if not base:
                raise ChTranslationError(f"cannot find subscript base before [{inner}]")
            # Spark's element_at requires an INT index for arrays, but the
            # dialect's integer casts ride BIGINT/DECIMAL carriers — cast
            # numeric subscripts down (arrays are < 2^31 in Spark, so the
            # ANSI cast can only throw on an already-buggy index).  String
            # subscripts are MAP keys and must pass through untouched;
            # integer-keyed map access survives the cast because Spark
            # widens the INT key back up to the map's key type.
            key = inner.strip()
            base_is_array = bool(
                _ARRAY_PRODUCER_RE.match(base)
                or base.lower() in _CATALOG.get().arrays
            )
            if (key.startswith("'") and key.endswith("'")) or re.fullmatch(
                    r"-?\d+", key) or not base_is_array:
                # String map keys and bare integer literals are already
                # the right type; an UNKNOWN base stays untouched too —
                # casting there would silently break string-keyed map
                # access m[k] (an array with a wide index fails loudly
                # at analysis instead, the pre-cast behavior).
                out = [trimmed[:k] + f"element_at({base}, {inner})"]
            else:
                # Spark's element_at requires an INT index for arrays,
                # but the dialect's integer casts ride BIGINT/DECIMAL
                # carriers — cast down when the base is PROVABLY an
                # array (catalog-known column or array-producing
                # expression; arrays are < 2^31 in Spark, so the ANSI
                # cast can only throw on an already-buggy index)
                out = [trimmed[:k]
                       + f"element_at({base}, CAST({inner} AS INT))"]
        i = j
    return "".join(out)


def _survivor_body(tbl: str, partition: str, order: str, rn: str) -> str:
    """One-row-per-key survivor: row_number() over (partition, order),
    keep rank 1, hide the rank column — shared by the FINAL, ANY JOIN and
    ASOF JOIN rewrites."""
    return (
        f"(SELECT * EXCEPT ({rn}) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {partition} ORDER BY {order}) AS {rn} FROM {tbl}) "
        f"WHERE {rn} = 1)"
    )


def _survivor_subquery(
    tbl: str, partition: str, order: str, alias: str, rn: str
) -> str:
    return _survivor_body(tbl, partition, order, rn) + f" AS {alias}"


def _rewrite_any_join(sql: str, notes: list[str]) -> str:
    """``ANY LEFT/INNER JOIN t [AS a] USING (k…)`` (either keyword order)
    → plain join against the keyed SURVIVOR subquery: one right row per
    join key, picked as the row_number()=1 row ordered by the table's
    remaining orderable columns (catalog context ``_Catalog.tables``).
    ClickHouse's ANY keeps an arbitrary match; a deterministic engine
    must pin one, and min-by-remaining-columns is a valid instance of
    that contract (and the identity when keys are unique — the dimension
    -table case ANY JOIN exists for).

    ``lt RIGHT ANY JOIN rt USING (k…)`` (and the ``ANY RIGHT`` order) is
    the mirror: every right row survives, matched against at most one
    LEFT row — the survivor subquery applied to the LEFT table, then a
    plain RIGHT JOIN.  Needs the left side to be a catalog-known table
    directly before the join.  Tables without catalog info, ON
    conditions, and other directions fall through to the loud refusal."""
    pat = re.compile(
        r"\b(?:ANY\s+(?:(LEFT|INNER)\s+)?(?:OUTER\s+)?"
        r"|(?:(LEFT|INNER)\s+)(?:OUTER\s+)?ANY\s+)JOIN\s+"
        r"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*))?"
        r"\s+USING\s*\(([^()]*)\)",
        re.IGNORECASE,
    )
    # A direction keyword right before the match means `FULL ANY JOIN`
    # etc. — UNLESS that word is itself a table/alias (preceded by FROM,
    # AS, JOIN or a comma: `FROM anti ANY JOIN …` is a table named anti)
    unsupported_prefix = re.compile(
        r"(?is)(?:\b(FROM|AS|JOIN|ON|USING)\s+|(,)\s*)?"
        r"\b(LEFT|RIGHT|FULL|INNER|OUTER|CROSS|SEMI|ANTI)\s*$"
    )
    while True:
        m = None
        for cand in pat.finditer(sql):
            if _in_string(sql, cand.start()):
                continue
            # the bare-ANY branch must not swallow the tail of a direction
            # we don't support — leave the whole form for the refusal below
            if cand.group(1) is None and cand.group(2) is None:
                pm = unsupported_prefix.search(sql[: cand.start()])
                if pm and not (pm.group(1) or pm.group(2)):
                    continue
            m = cand
            break
        if m is None:
            return sql
        # bare `ANY JOIN` is ANY INNER (ClickHouse's default join kind)
        kind = (m.group(1) or m.group(2) or "INNER").upper()
        tbl, alias = m.group(3), m.group(4)
        keys = [k.strip() for k in m.group(5).split(",") if k.strip()]
        cols = _CATALOG.get().tables.get(tbl)
        if cols is None:
            return sql  # unknown table → the refusal below reports it
        keyset = {k.lower() for k in keys}
        order = [c for c in cols if c.lower() not in keyset]
        if not order:
            # key-only table: duplicate-key rows are identical → any order
            order = keys
        rep = (
            f"{kind} JOIN "
            + _survivor_subquery(
                tbl, ", ".join(keys), ", ".join(order), alias or tbl, "__any_rn"
            )
            + f" USING ({', '.join(keys)})"
        )
        sql = sql[: m.start()] + rep + sql[m.end() :]
        notes.append(
            f"ANY JOIN on {tbl}: survivor = first row per ({', '.join(keys)}) "
            f"ordered by ({', '.join(order)}) — CH leaves the pick arbitrary"
        )


def _rewrite_right_any_join(sql: str, notes: list[str]) -> str:
    """``FROM lt [AS a] RIGHT ANY JOIN rt USING (k…)`` → survivor on the
    LEFT table + plain RIGHT JOIN (see _rewrite_any_join docstring)."""
    pat = re.compile(
        r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)"
        r"(?:\s+(?:AS\s+)?(?!RIGHT\b|ANY\b)([A-Za-z_]\w*))?\s+"
        r"(?:RIGHT\s+(?:OUTER\s+)?ANY\s+|ANY\s+RIGHT\s+(?:OUTER\s+)?)JOIN\s+"
        r"([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*))?"
        r"\s+USING\s*\(([^()]*)\)",
        re.IGNORECASE,
    )
    while True:
        m = next(
            (c for c in pat.finditer(sql) if not _in_string(sql, c.start())), None
        )
        if m is None:
            return sql
        kw, ltbl, lalias, rtbl, ralias, keystr = m.groups()
        keys = [k.strip() for k in keystr.split(",") if k.strip()]
        cols = _CATALOG.get().tables.get(ltbl)
        if cols is None:
            return sql  # unknown left table → the refusal below reports it
        keyset = {k.lower() for k in keys}
        order = [c for c in cols if c.lower() not in keyset] or keys
        rep = (
            f"{kw} "
            + _survivor_subquery(
                ltbl, ", ".join(keys), ", ".join(order), lalias or ltbl, "__any_rn"
            )
            + f" RIGHT JOIN {rtbl}"
            + (f" AS {ralias}" if ralias else "")
            + f" USING ({', '.join(keys)})"
        )
        sql = sql[: m.start()] + rep + sql[m.end() :]
        notes.append(
            f"RIGHT ANY JOIN: left survivor = first {ltbl} row per "
            f"({', '.join(keys)}) ordered by ({', '.join(order)}) — CH "
            f"leaves the pick arbitrary"
        )


def _rewrite_with_fill(sql: str, notes: list[str]) -> str:
    """Trailing ``ORDER BY x WITH FILL [FROM a] [TO b] [STEP s]`` over an
    integer column → a sequence() spine UNIONed with the actual values
    (off-grid rows survive, as in CH), LEFT-JOINed back to the query.

    Deltas (noted): filler rows carry NULL in the other columns where CH
    shows type defaults (same convention as the WITH TOTALS rewrite),
    and the fill column moves to the first output position.  CH's TO
    bound is EXCLUSIVE — the spine filters ``< TO``.  Without FROM/TO
    the spine spans the result's own min..max (inclusive), matching CH.
    Scale: one scalar-subquery pass for the bounds (absent only when
    FROM and TO are literal) and one join on the fill column."""
    m = re.search(
        r"\bORDER\s+BY\s+([A-Za-z_]\w*)\s+WITH\s+FILL"
        r"(?:\s+FROM\s+(-?\d+))?(?:\s+TO\s+(-?\d+))?(?:\s+STEP\s+(-?\d+))?"
        r"(?:\s+INTERPOLATE\s*\(([^()]*)\))?"
        r"\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is None or _in_string(sql, m.start()):
        return sql
    x, frm, to, step, interp_raw = m.groups()
    interp_cols: list[str] = []
    if interp_raw is not None:
        for item in _split_args(interp_raw):
            if not re.fullmatch(r"[A-Za-z_]\w*", item.strip()):
                raise ChTranslationError(
                    "WITH FILL INTERPOLATE supports bare column names only (carry "
                    "the previous output row's value) — expression forms "
                    "are recursive over interpolated rows and have no "
                    "plan-level equivalent"
                )
            interp_cols.append(item.strip())
        if not interp_cols:
            raise ChTranslationError("INTERPOLATE () needs column names")
        if x in interp_cols:
            raise ChTranslationError(
                "INTERPOLATE cannot target the fill column itself"
            )
    step_i = int(step) if step else 1
    if step_i <= 0:
        raise ChTranslationError("WITH FILL STEP must be a positive integer")
    inner = sql[: m.start()].rstrip()
    f_expr = frm if frm else f"(SELECT min({x}) FROM __fill_q)"
    # TO is exclusive → upper bound TO-1 (integer grid).  sequence()
    # DESCENDS when start > stop, so an empty range must short-circuit —
    # statically when both bounds are literal, with a CASE otherwise
    # (Spark's ReuseSubquery evaluates the repeated scalar subquery once).
    # No expression may land inside a higher-order-function lambda: a
    # scalar subquery there is rejected by the analyzer.
    if to:
        t_expr = f"({to} - 1)"
        if frm and int(frm) > int(to) - 1:
            seq = "CAST(array() AS ARRAY<BIGINT>)"  # empty range: no filler
        else:
            seq = (
                f"CASE WHEN {f_expr} > {t_expr} THEN array() "
                f"ELSE sequence({f_expr}, {t_expr}, {step_i}) END"
            )
    else:
        seq = (
            f"CASE WHEN {f_expr} IS NULL THEN array() "
            f"ELSE sequence({f_expr}, (SELECT max({x}) FROM __fill_q), "
            f"{step_i}) END"
        )
    if interp_cols:
        # filler marker: a spine value with no matching real row (the
        # null-safe join means real rows ALWAYS match, including x=NULL).
        # Each interpolated column carries the last REAL row's value —
        # wrapped in a struct so that a real row whose value IS NULL is
        # still "the previous row" (ignoreNulls must not skip past it,
        # which is exactly CH's previous-output-row contract)
        carried = ", ".join(
            f"IF(__filler, (last(IF(__filler, NULL, "
            f"struct({c} AS v)), true) OVER __fill_w).v, {c}) AS {c}"
            for c in interp_cols
        )
        out = (
            f"WITH __fill_q AS ({inner}), __fill_j AS ("
            f"SELECT __fill_s.__fill_x AS {x}, "
            f"(__fill_q.{x} IS NULL) AS __filler, "
            f"__fill_q.* EXCEPT ({x}) "
            f"FROM (SELECT DISTINCT __fill_x FROM ("
            f"SELECT explode({seq}) AS __fill_x "
            f"UNION ALL SELECT {x} FROM __fill_q)) __fill_s "
            f"LEFT JOIN __fill_q ON __fill_q.{x} <=> __fill_s.__fill_x) "
            f"SELECT * EXCEPT (__filler, {', '.join(interp_cols)}), "
            f"{carried} FROM __fill_j "
            f"WINDOW __fill_w AS (ORDER BY {x} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            f"ORDER BY {x}"
        )
        notes.append(
            f"WITH FILL INTERPOLATE → spine + left join + carry-forward "
            f"window over ({', '.join(interp_cols)}): interpolated "
            "columns move to the LAST output positions; filler rows take "
            "the previous output row's value (a real row's NULL is "
            "carried as NULL, as in CH)"
        )
        return out
    out = (
        f"WITH __fill_q AS ({inner}) "
        f"SELECT __fill_s.__fill_x AS {x}, __fill_q.* EXCEPT ({x}) "
        f"FROM (SELECT DISTINCT __fill_x FROM ("
        f"SELECT explode({seq}) AS __fill_x "
        f"UNION ALL SELECT {x} FROM __fill_q)) __fill_s "
        # null-safe join: rows whose fill-column value is NULL must keep
        # their payload (the spine carries the NULL through the union)
        f"LEFT JOIN __fill_q ON __fill_q.{x} <=> __fill_s.__fill_x "
        f"ORDER BY __fill_x"
    )
    notes.append(
        f"WITH FILL → sequence spine ∪ actual {x} values + left join: "
        "filler rows carry NULL in the other columns (ClickHouse shows "
        f"type defaults), and {x} moves to the first output column"
    )
    return out


def _rewrite_qualify(sql: str, notes: list[str]) -> str:
    """ClickHouse ``QUALIFY`` (post-grouping filter on window-function
    results) — Spark has no QUALIFY clause, so the predicate is hoisted
    into the select list of a subquery as a helper column and filtered
    outside; Spark 4's ``* EXCEPT (__q)`` drops the helper from the
    result shape.  Refused for SELECT DISTINCT (the helper column would
    change DISTINCT semantics) and compound set operations."""
    spans = _top_level_spans(sql, r"\bQUALIFY\b")
    if not spans:
        return sql
    if len(spans) > 1:
        raise ChTranslationError("multiple top-level QUALIFY clauses")
    q = spans[0]
    head = sql[: q.start()].rstrip()
    rest = sql[q.end() :]
    tail_m = _top_level_spans(
        rest, r"\b(ORDER\s+BY|LIMIT|SETTINGS|FORMAT)\b"
    )
    if tail_m:
        pred = rest[: tail_m[0].start()].strip()
        tail = rest[tail_m[0].start() :].strip()
    else:
        pred, tail = rest.strip(), ""
    if not pred:
        raise ChTranslationError("QUALIFY requires a predicate")
    if _top_level_spans(head, r"\bSELECT\s+DISTINCT\b"):
        raise ChTranslationError(
            "QUALIFY with SELECT DISTINCT is not supported (the hoisted "
            "helper column would change DISTINCT semantics) — apply "
            "DISTINCT in an outer query"
        )
    if _top_level_spans(
        head,
        r"\bUNION\b|\bINTERSECT\b|\bEXCEPT\s+(ALL\s+|DISTINCT\s+)?SELECT\b",
    ):
        raise ChTranslationError(
            "QUALIFY on a compound set operation is not supported — "
            "wrap the last SELECT in a subquery"
        )
    froms = _top_level_spans(head, r"\bFROM\b")
    if not froms:
        raise ChTranslationError("QUALIFY requires a FROM clause")
    # a trailing ORDER BY may reference source columns the select list
    # does not project — hoist each non-positional key as a helper column
    # too (lateral alias resolution covers keys naming select aliases)
    order_helpers: list[tuple[str, str]] = []
    om = re.match(r"(?is)^ORDER\s+BY\b", tail) if tail else None
    if om:
        rest2 = tail[om.end() :]
        stop = _top_level_spans(rest2, r"\b(LIMIT|SETTINGS|FORMAT)\b")
        order_part = rest2[: stop[0].start()] if stop else rest2
        after = rest2[stop[0].start() :].strip() if stop else ""
        out_keys = []
        for i, (k, d) in enumerate(_split_order_keys(order_part)):
            if re.fullmatch(r"\d+", k):
                out_keys.append(f"{k} {d}".strip())
            else:
                order_helpers.append((f"__o{i}", k))
                out_keys.append(f"__o{i} {d}".strip())
        tail = "ORDER BY " + ", ".join(out_keys)
        if after:
            tail += f" {after}"
    f0 = froms[0]
    helper_cols = f", ({pred}) AS __q" + "".join(
        f", ({k}) AS {h}" for h, k in order_helpers
    )
    inner = (
        head[: f0.start()].rstrip() + helper_cols + " " + head[f0.start() :]
    )
    dropped = ", ".join(["__q"] + [h for h, _ in order_helpers])
    out = f"SELECT * EXCEPT ({dropped}) FROM ({inner}) WHERE __q"
    if tail:
        out += f" {tail}"
    notes.append(
        "QUALIFY → hoisted helper column + outer WHERE "
        "(* EXCEPT drops it; evaluation order identical)"
    )
    return out


def _rewrite_asof_join(sql: str, notes: list[str]) -> str:
    """``FROM a ASOF [LEFT] JOIN b USING (k…, t)`` → the nearest-past
    match as pure Spark SQL (the same union + ignore-nulls ``last()``
    carry the native ``operators/asof.py`` plan uses):

    1. b is deduplicated to one row per (k…, t) — CH picks an arbitrary
       row among exact ties; the keyed survivor pins a deterministic one;
    2. a-rows (src 1) and b-rows (src 0) union on (k…, t), b rows
       carrying their own t; ``last(…, true)`` over (PARTITION BY k
       ORDER BY t, src) gives every a-row the greatest b-t ≤ its t
       (src 0 sorts first, so equal timestamps match — CH's ``>=``);
    3. the matched b row joins back by (k…, matched-t) — inner drops
       unmatched a-rows, LEFT keeps them null-padded.

    Scale: window and join both hash-partition on the keys — the shape
    survives 100 TB exactly like the native plan.  Requires both sides
    to be catalog-known plain tables with no aliases and no b-qualified
    references downstream; everything else falls through to the loud
    refusal."""
    pat = re.compile(
        r"\b(FROM|JOIN)\s+([A-Za-z_]\w*)\s+"
        r"ASOF\s+(LEFT\s+)?JOIN\s+([A-Za-z_]\w*)"
        r"\s+USING\s*\(([^()]*)\)",
        re.IGNORECASE,
    )
    while True:
        m = next(
            (c for c in pat.finditer(sql) if not _in_string(sql, c.start())), None
        )
        if m is None:
            return sql
        kw, ltbl, left_kw, rtbl, colstr = m.groups()
        cols = [c.strip() for c in colstr.split(",") if c.strip()]
        if len(cols) < 2:
            return sql  # need at least one equi-key plus the asof column
        *keys, t = cols
        tables = _CATALOG.get().tables
        a_cols, b_cols = tables.get(ltbl), tables.get(rtbl)
        if a_cols is None or b_cols is None:
            return sql
        lowkeys = {k.lower() for k in keys} | {t.lower()}
        if not lowkeys <= {c.lower() for c in a_cols} or not lowkeys <= {
            c.lower() for c in b_cols
        }:
            return sql
        a_other = [c for c in a_cols if c.lower() not in lowkeys]
        b_payload = [c for c in b_cols if c.lower() not in lowkeys]
        clash = {c.lower() for c in a_other} & {c.lower() for c in b_payload}
        if clash:
            raise ChTranslationError(
                f"ASOF JOIN: columns {sorted(clash)} exist on both sides — "
                "the flattened result cannot hold both; project/rename first"
            )
        if re.search(rf"\b{re.escape(rtbl)}\s*\.", sql):
            return sql  # b-qualified refs would dangle after flattening
        ks = ", ".join(keys)
        # the deduped right side is computed ONCE as a top-level CTE and
        # referenced by both the union branch and the join-back (Spark
        # does not reuse textually-duplicated subquery plans)
        n_cte = len(re.findall(r"__asof_bd\d+", sql))
        cte_name = f"__asof_bd{n_cte}"
        cte = cte_name + " AS " + _survivor_body(
            rtbl, f"{ks}, {t}", ", ".join(b_payload) or ks, "__asof_rn"
        )
        a_branch = (
            f"SELECT {ks}, {t}, 1 AS __asof_src"
            + "".join(f", {c}" for c in a_other)
            + ", NULL AS __asof_bt"
            + f" FROM {ltbl}"
        )
        b_branch = (
            f"SELECT {ks}, {t}, 0 AS __asof_src"
            + "".join(f", NULL AS {c}" for c in a_other)
            + f", {t} AS __asof_bt"
            + f" FROM {cte_name}"
        )
        win = (
            f"SELECT *, last(__asof_bt, true) OVER (PARTITION BY {ks} "
            f"ORDER BY {t}, __asof_src "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __asof_mt "
            f"FROM ({a_branch} UNION ALL {b_branch}) __asof_u"
        )
        on = " AND ".join(
            [f"__asof_b.{k} = __asof_w.{k}" for k in keys]
            + [f"__asof_b.{t} = __asof_w.__asof_mt"]
        )
        sel = ", ".join(
            [f"__asof_w.{c}" for c in [*keys, t, *a_other]]
            + [f"__asof_b.{c}" for c in b_payload]
        )
        join_kind = "LEFT JOIN" if left_kw else "JOIN"
        rep = (
            f"{kw} (SELECT {sel} FROM ({win}) __asof_w "
            f"{join_kind} {cte_name} AS __asof_b ON {on} "
            f"WHERE __asof_w.__asof_src = 1) AS {ltbl}"
        )
        sql = sql[: m.start()] + rep + sql[m.end() :]
        # hoist the survivor CTE to the statement's top level (CTEs are
        # visible inside subqueries, so this is correct even when the
        # ASOF join sits nested)
        lead = len(sql) - len(sql.lstrip())
        body = sql[lead:]
        if re.match(r"WITH\b", body, re.IGNORECASE):
            sql = sql[:lead] + "WITH " + cte + ", " + body[len("WITH") :].lstrip()
        else:
            sql = sql[:lead] + "WITH " + cte + " " + body
        notes.append(
            f"ASOF JOIN → union + last() carry on ({ks}; {t}); ties among "
            f"{rtbl} rows at one (key, t) resolve to the first row by "
            f"({', '.join(b_payload) or ks}) — CH leaves that pick arbitrary"
        )


def _rewrite_final(sql: str, table_keys, notes: list[str]) -> str:
    """``FROM t FINAL`` → ReplacingMergeTree merge-on-read semantics: the
    newest-version row per sorting key survives (reference:
    docs/dev/design.md:5-12 — the sinker's exactly-once story lands
    duplicates and relies on FINAL/merges to collapse them;
    output/clickhouse.go:724-799 builds the ReplacingMergeTree DDL).

    ``table_keys`` maps table name → ``(sorting_key_cols, version_cols)``;
    version_cols is an ordered list — later entries break ties of earlier
    ones, so callers get a DETERMINISTIC survivor by listing a unique
    column last (CH itself keeps an arbitrary last-merged row on full
    ties, which no deterministic translation should reproduce).  Tables
    with a FINAL but no entry raise; without any ``table_keys`` the
    modifier is stripped with a note (legacy behavior, still loud)."""
    pat = re.compile(
        r"(\bFROM\s+|\bJOIN\s+|,\s*)([A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?!FINAL\b)([A-Za-z_]\w*))?\s+FINAL\b",
        re.IGNORECASE,
    )
    while True:
        m = None
        for cand in pat.finditer(sql):
            if not _in_string(sql, cand.start()):
                m = cand
                break
        if m is None:
            return sql
        prefix, tbl, alias = m.group(1), m.group(2), m.group(3)
        if table_keys is None:
            sql = (
                sql[: m.start()]
                + prefix
                + (f"{tbl} {alias}" if alias else tbl)
                + sql[m.end() :]
            )
            notes.append(
                "FINAL stripped: no sorting-key/version config passed; supply "
                "table_keys={table: (key_cols, version_cols)} for "
                "ReplacingMergeTree merge-on-read semantics"
            )
            continue
        keys = table_keys.get(tbl)
        if keys is None:
            raise ChTranslationError(
                f"FROM {tbl} FINAL: no sorting key configured for {tbl!r} — "
                "add it to table_keys as (key_cols, version_cols)"
            )
        key_cols, ver_cols = keys
        if not ver_cols:
            raise ChTranslationError(
                f"FROM {tbl} FINAL: {tbl!r} has no version column configured; "
                "a deterministic merge-on-read needs an ordered version list "
                "(append a unique column to break ties)"
            )
        order = ", ".join(f"{v} DESC" for v in ver_cols)
        part = ", ".join(key_cols)
        rep = _survivor_subquery(tbl, part, order, alias or tbl, "__final_rn")
        sql = sql[: m.start()] + prefix + rep + sql[m.end() :]
        notes.append(
            f"FINAL on {tbl}: rewritten to newest-version-per-({part}) "
            f"survivor (ReplacingMergeTree merge-on-read)"
        )


# escape sequences that BOTH engines' string literals interpret identically
_SHARED_ESCAPES = frozenset("\\'\"ntrb0")


def _reescape_literals(sql: str) -> str:
    """Align string-literal escape semantics: ClickHouse KEEPS the
    backslash for unrecognized escapes (``'\\d'`` is the two characters
    backslash-d — how every CH user writes regexes), while Spark DROPS it
    (``'\\d'`` → ``d`` — silently breaking every ``match``/
    ``replaceRegexpAll``/``extractAll`` pattern).  Inside each literal, a
    lone backslash before a character outside the shared escape set is
    doubled so Spark reproduces CH's reading.  Shared escapes
    (``\\\\ \\' \\" \\n \\t \\r \\b \\0``) pass through.  Delta: CH's
    ``\\f \\a \\v \\xHH`` control-character escapes become literal
    backslash-letter here (regex usage unaffected)."""
    out = []
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        c = sql[i]
        if not in_str:
            out.append(c)
            if c == "'":
                in_str = True
            i += 1
            continue
        if c == "'":
            out.append(c)
            in_str = False
            i += 1
        elif c == "\\" and i + 1 < n:
            nxt = sql[i + 1]
            if nxt == "'":
                # normalize \' to the SQL-standard '' — the module's
                # string-aware scanners are simple quote-togglers that a
                # backslash-escaped quote would silently desynchronize
                # (every rewrite after this point would then misjudge
                # what is inside a literal); '' reads identically in
                # Spark and keeps every toggle-walk consistent
                out.append("''")
            elif nxt in _SHARED_ESCAPES:
                out.append(c)
                out.append(nxt)
            else:
                out.append("\\\\")
                out.append(nxt)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


# built here, after every emitter helper the rules reference is defined
_RULES = _build_rules()
# call name → indices of the rules it gates, ascending
_RULE_INDEX: dict[str, list[int]] = {}
for _i, (_names, _) in enumerate(_RULES):
    for _n in _names:
        _RULE_INDEX.setdefault(_n, []).append(_i)
del _i, _names, _n


def _translate_functions(sql: str) -> str:
    """Apply ``_RULES`` in table order, each only when one of its names is
    a call site of the current text.  A rule therefore sees the text every
    earlier rule emitted, and no earlier rule sees a later rule's output.
    The text is rescanned only after a rule changes it."""
    nxt = 0
    while True:
        names = _call_names(sql)
        due = sorted({i for n in names for i in _RULE_INDEX.get(n, ())
                      if i >= nxt})
        for i in due:
            out = _RULES[i][1](sql)
            if out != sql:
                sql, nxt = out, i + 1
                break
        else:
            return sql


def translate_ch_sql(
    sql: str, table_keys=None, array_columns=None, table_columns=None,
    string_columns=None,
) -> tuple[str, list[str]]:
    """Translate a ClickHouse SQL query to Spark SQL.

    Returns ``(spark_sql, notes)`` — notes record semantic deltas (FINAL
    rewrite/strip, uniq approximation differs).  Raises ChTranslationError
    on constructs outside the documented subset.

    ``table_keys`` (optional): ``{table: (sorting_key_cols, version_cols)}``
    — enables the real ``FROM t FINAL`` merge-on-read rewrite; without it
    FINAL is stripped with a note.

    ``array_columns`` (optional): column names known from the catalog to be
    arrays (see ``spark_array_columns``) — types bare columns under
    ``empty()``/``notEmpty()``.

    ``table_columns`` (optional): ``{table: [orderable columns]}`` (see
    ``spark_table_columns``) — enables the ANY JOIN … USING rewrite.

    ``string_columns`` (optional): column names known from the catalog to
    be strings — admits bare columns under the byte-hash family
    (sipHash64/xxHash64/xxHash32)."""
    token = _CATALOG.set(_Catalog(
        frozenset(c.lower() for c in (array_columns or ())),
        MappingProxyType(dict(table_columns or {})),
        frozenset(c.lower() for c in (string_columns or ())),
    ))
    try:
        # FIRST, on the raw input only: rewrites below inject their own
        # (Spark-convention) literals, which must not be re-escaped
        return _translate_ch_sql_inner(_reescape_literals(sql), table_keys)
    except ChTranslationError:
        raise
    except (IndexError, ValueError, KeyError) as e:
        # totality: malformed input (unbalanced parens, truncated arg
        # lists, dangling combinators) becomes a typed refusal, never an
        # internal parser crash
        raise ChTranslationError(
            f"malformed ClickHouse SQL ({type(e).__name__}: {e})"
        ) from e
    finally:
        _CATALOG.reset(token)


def _translate_ch_sql_inner(sql: str, table_keys) -> tuple[str, list[str]]:
    notes: list[str] = []
    _redirect = {
        "toTimezone": "date_format(from_utc_timestamp(ts, tz), …) for"
                      " display conversion",
        "hammingDistance": "byteHammingDistance (strings) or"
                           " bitHammingDistance (integers)",
        "neighbor": "lag()/lead() OVER an explicit ORDER BY",
        "runningDifference": "v - lag(v) OVER an explicit ORDER BY",
        "runningAccumulate": "sum() OVER an explicit ORDER BY",
        "rowNumberInBlock": "row_number() OVER an explicit ORDER BY",
        "rowNumberInAllBlocks": "row_number() OVER an explicit ORDER BY",
        "histogram": "explicit width_bucket/floor bucketing "
                     "(ch_dialect_stats_buckets shape)",
        "dictGet": "a broadcast JOIN against the dimension table "
                   "(no external dictionaries in Spark)",
        "dictGetString": "a broadcast JOIN against the dimension table",
        "dictGetFloat64": "a broadcast JOIN against the dimension table",
        "dictGetInt64": "a broadcast JOIN against the dimension table",
        "dictIsIn": "a broadcast semi-join against the dimension table",
        "toRelativeWeekNum": "toStartOfWeek(d) bucketing",
    }
    def _first_real(pattern: str):
        """First match OUTSIDE string literals — a literal containing the
        pattern must neither trigger a false refusal nor MASK a real call
        occurring later in the query."""
        return next(
            (
                m
                for m in re.finditer(pattern, sql)
                if not _in_string(sql, m.start())
            ),
            None,
        )

    # the first refused call in the text (a set iteration would make the
    # reported name depend on the hash seed)
    bad = next((n for n in _call_names(sql) if n in _UNSUPPORTED), None)
    if bad:
        hint = f"; use {_redirect[bad]}" if bad in _redirect else ""
        raise ChTranslationError(
            f"no faithful Spark translation for {bad}(){hint}"
        )
    # the whole H3 family at once (~60 names): Uber's H3 icosahedral
    # indexing needs the H3 library, absent here
    m_h3 = _first_real(r"\b(h3[A-Z]\w*|stringToH3|h3ToString)\s*\(")
    if m_h3:
        raise ChTranslationError(
            f"no faithful Spark translation for {m_h3.group(1)}() — the"
            " H3 geo-indexing library is not available; geohashEncode/"
            "Decode cover the grid-bucketing use case"
        )
    # the -ArgMin/-ArgMax aggregate combinators (sumArgMin(v, k) etc.):
    # the inner agg runs over the rows attaining the group's extreme k —
    # that needs the extreme INSIDE the aggregation (a nested aggregate
    # Spark cannot express); bare argMin/argMax translate (min_by/max_by)
    m_am = _first_real(r"\b([a-zA-Z]\w+)(Arg(?:Min|Max))\s*\(")
    if m_am and m_am.group(1).lower() != "arg" and m_am.group(0).split(
            "(")[0] not in ("argMin", "argMax"):
        raise ChTranslationError(
            f"no faithful Spark translation for {m_am.group(1)}"
            f"{m_am.group(2)}() — the -ArgMin/-ArgMax combinators embed"
            " the group extreme inside the aggregate; compute the"
            " extreme with a window first, then aggregate FILTER rows"
            " equal to it"
        )
    # the text-hash LSH families (ngram/wordShingle × Sim/Min hash, all
    # case/UTF8 spellings): CH-internal CRC-slot folds with no published
    # vectors; the repo's dedup_simhash / dedup_minhash_lsh operators
    # are the supported near-dup path
    m_sh = _first_real(r"\b((?:ngram|wordShingle)(?:Sim|Min)Hash\w*)\s*\(")
    if m_sh:
        raise ChTranslationError(
            f"no faithful Spark translation for {m_sh.group(1)}() — use"
            " the engine's dedup_simhash / MinHash-LSH operators for"
            " near-duplicate detection"
        )
    # the -Resample combinator: explicit width_bucket bucketing says the
    # same thing relationally
    m_rs = _first_real(r"\b(\w+Resample)\s*\(")
    if m_rs:
        raise ChTranslationError(
            f"no faithful Spark translation for {m_rs.group(1)}() — use"
            " an explicit width_bucket/floor bucket in GROUP BY"
        )
    # PASTE JOIN zips tables by BLOCK POSITION — there is no
    # deterministic row order in a distributed table to zip by
    if _first_real(r"\bPASTE\s+JOIN\b"):
        raise ChTranslationError(
            "PASTE JOIN is positional (block-order) — no faithful Spark"
            " translation; join on explicit row_number() keys instead")
    # DISTINCT ON keeps one ARBITRARY row per key — CH's own docs note
    # it is equivalent to LIMIT 1 BY, which this translator DOES rewrite
    # (ranked-window survivor)
    if _first_real(r"\bDISTINCT\s+ON\b"):
        raise ChTranslationError(
            "DISTINCT ON (cols) — use the equivalent LIMIT 1 BY cols"
            " (translated as a ranked-window survivor)")
    # -State / -Merge / -SimpleState combinators carry engine-internal
    # aggregate states (AggregateFunction columns) — nothing on the Spark
    # side can hold or merge them
    st = _first_real(r"\b([a-z]\w*?(?:State|Merge|SimpleState))\s*\(")
    if st:
        raise ChTranslationError(
            f"{st.group(1)}(): -State/-Merge combinators carry ClickHouse "
            "aggregate-function states, which have no Spark representation "
            "— aggregate the raw values instead (e.g. sum() over the "
            "source rows)"
        )
    ri = _first_real(r"\b(reinterpretAs\w+|reinterpret)\s*\(")
    if ri:
        raise ChTranslationError(
            f"{ri.group(1)}(): raw-byte reinterpretation depends on CH's "
            "in-memory layouts — use an explicit CAST/conversion instead"
        )

    if re.search(r"\bFINAL\b", sql, re.IGNORECASE):
        sql = _rewrite_final(sql, table_keys, notes)

    m = re.search(r"\bPREWHERE\b", sql, re.IGNORECASE)
    if m:
        if re.search(r"\bWHERE\b", sql, re.IGNORECASE):
            # merge: PREWHERE c1 ... WHERE c2 → WHERE (c1) AND (c2).
            pre = re.search(
                r"\bPREWHERE\b(.*?)(?=\bWHERE\b|\bGROUP\b|\bORDER\b|\bLIMIT\b|$)",
                sql,
                re.IGNORECASE | re.DOTALL,
            )
            cond = pre.group(1).strip()
            sql = sql[: pre.start()] + sql[pre.end() :]
            sql = re.sub(
                r"\bWHERE\b", f"WHERE ({cond}) AND ", sql, count=1, flags=re.IGNORECASE
            )
        else:
            sql = re.sub(r"\bPREWHERE\b", "WHERE", sql, flags=re.IGNORECASE)
        notes.append("PREWHERE → WHERE (Spark pushes predicates itself)")

    if _spans_outside_strings(
        sql,
        r"\bGLOBAL\s+(ANY\s+|ALL\s+)?(INNER|LEFT|RIGHT|FULL|CROSS|JOIN|IN|NOT\s+IN)\b",
    ):
        # CH's GLOBAL modifier forces the subquery to be computed once and
        # broadcast to all shards — a distributed-execution hint.  Spark
        # plans its own exchanges (broadcast vs shuffle via AQE), so the
        # modifier is dropped, not translated.  String-literal-aware: a
        # data value mentioning 'GLOBAL JOIN' is not rewritten.
        sql = _sub_outside_strings(
            sql,
            r"\bGLOBAL\s+(?=(ANY|ALL|INNER|LEFT|RIGHT|FULL|CROSS|JOIN|IN|NOT)\b)",
            "",
        )
        notes.append(
            "GLOBAL join/IN modifier dropped: Spark chooses broadcast vs "
            "shuffle itself (AQE); semantics are unchanged"
        )

    # system.<table> → system_<table>: Spark temp views cannot live in a
    # `system` database; sources/systemviews.py registers the flattened
    # names with the reference's column layout
    if _spans_outside_strings(sql, r"\bsystem\.(columns|tables|clusters)\b"):
        for m in reversed(
            _spans_outside_strings(sql, r"\bsystem\.(columns|tables|clusters)\b")
        ):
            sql = sql[: m.start()] + f"system_{m.group(1).lower()}" + sql[m.end() :]
        notes.append(
            "system.* → system_* views (register via "
            "sources/systemviews.register_system_views)"
        )

    # SAMPLE k after a table ref (docs: ClickHouse sampling clause) →
    # Spark TABLESAMPLE.  Fraction (0.3, 3/10) → PERCENT; integer ≥ 1 →
    # ROWS.  CH samples deterministically by the table's sample key, Spark
    # by per-split Bernoulli — WHICH rows differ, so a note flags it;
    # SAMPLE … OFFSET has no Spark equivalent and is refused.
    while True:
        sm2 = _top_level_spans(
            sql,
            r"\bSAMPLE\s+(\d+(?:\.\d+)?)(\s*/\s*(\d+))?(\s+OFFSET\s+[\d./]+)?",
        )
        if not sm2:
            break
        m2 = sm2[0]
        if m2.group(4):
            raise ChTranslationError(
                "SAMPLE … OFFSET is not translatable: Spark TABLESAMPLE has "
                "no offset notion — drop the OFFSET or sample by filter"
            )
        num = float(m2.group(1))
        if m2.group(3):
            frac = num / float(m2.group(3))
            rep = f"TABLESAMPLE ({frac * 100:g} PERCENT)"
        elif num <= 1:
            # CH: k in [0, 1] is a FRACTION — SAMPLE 1 is the whole table,
            # never a 1-row quota
            rep = f"TABLESAMPLE ({num * 100:g} PERCENT)"
        else:
            rep = f"TABLESAMPLE ({int(num)} ROWS)"
        sql = sql[: m2.start()] + rep + sql[m2.end() :]
        if rep.endswith("ROWS)"):
            # Spark's (N ROWS) is a LIMIT-like deterministic prefix of the
            # scan — it performs NO sampling at all, unlike CH's
            # sample-key-spread row quota
            notes.append(
                "SAMPLE N → TABLESAMPLE (N ROWS): Spark takes a "
                "DETERMINISTIC first-N prefix of the scan, not a random or "
                "key-spread sample — use SAMPLE with a fraction (or ORDER "
                "BY rand() LIMIT N) if you need approximate randomness"
            )
        else:
            notes.append(
                "SAMPLE → TABLESAMPLE: Spark samples per-split Bernoulli, "
                "not by ClickHouse's deterministic sample key — row "
                "membership differs between engines"
            )

    # trailing SETTINGS key=value[, ...] — CH per-query engine knobs
    # (max_threads, max_memory_usage…); Spark's equivalents are session
    # confs, not query syntax, so the clause is stripped with a note
    st = _top_level_spans(sql, r"(?s)\bSETTINGS\s+\w+\s*=.*$")
    if st:
        sql = sql[: st[0].start()].rstrip()
        notes.append("SETTINGS clause dropped: use Spark session confs instead")

    # trailing FORMAT <name> — an output-serialization directive; result
    # shape is unchanged, the sink decides serialization here
    fm = _top_level_spans(sql, r"\bFORMAT\s+[A-Za-z][A-Za-z0-9]*\s*;?\s*$")
    if fm:
        sql = sql[: fm[0].start()].rstrip()
        notes.append("FORMAT clause dropped: serialization belongs to the sink")

    sql = _rewrite_qualify(sql, notes)
    if _spans_outside_strings(sql, r"\bQUALIFY\b"):
        # remaining forms (QUALIFY inside a subquery) — never hand Spark
        # a clause it cannot parse
        raise ChTranslationError(
            "QUALIFY inside a subquery is not translatable — hoist the "
            "window predicate into the subquery's select list and filter "
            "on it in the enclosing query"
        )
    if _spans_outside_strings(sql, r"\*\s*APPLY\s*\(") or _spans_outside_strings(
        sql, r"\bCOLUMNS\s*\("
    ):
        raise ChTranslationError(
            "the * APPLY(fn) / COLUMNS('re') column-matcher modifiers "
            "have no Spark SQL form — enumerate the columns explicitly "
            "(Spark 4 supports * EXCEPT (cols), which IS translated)"
        )
    sql = _rewrite_with_fill(sql, notes)
    if _spans_outside_strings(sql, r"\bWITH\s+FILL\b"):
        # remaining forms (non-trailing clause, multi-column fill,
        # INTERPOLATE with expressions, expression steps) — the engine
        # owns gap filling natively as a composed plan.
        raise ChTranslationError(
            "this WITH FILL form is not translatable at the SQL level "
            "(supported: a trailing ORDER BY <col> WITH FILL "
            "[FROM i] [TO i] [STEP i] [INTERPOLATE (bare cols)] over an "
            "integer column); use the native gap-fill plan "
            "(plans/queries.py:ts_gap_fill — sequence() spine + left "
            "join + forward fill)"
        )

    sql = _rewrite_asof_join(sql, notes)
    if _spans_outside_strings(sql, r"\bASOF\s+(LEFT\s+)?JOIN\b"):
        # remaining forms (ON conditions, aliased/subquery sides, unknown
        # tables) — the engine owns the operator natively as a composed
        # plan; never mistranslated.
        raise ChTranslationError(
            "this ASOF JOIN form is not translatable at the SQL level "
            "(supported: <table> ASOF [LEFT] JOIN <table> USING (k…, t) "
            "with both tables' columns known via table_columns); use "
            "operators/asof.py:asof_join (nearest-past via union + last() "
            "over ordered window — the asof_join_events plan)"
        )

    sql = _rewrite_any_join(sql, notes)
    sql = _rewrite_right_any_join(sql, notes)
    if _spans_outside_strings(
        sql,
        # catch every strictness placement CH accepts — a missed form
        # would run as an ALL join and silently duplicate rows
        r"\bANY(?:\s+(?:LEFT|RIGHT|FULL|INNER|OUTER|CROSS|SEMI|ANTI)){0,2}\s+JOIN\b"
        r"|\b(?:LEFT|RIGHT|FULL|INNER|CROSS)(?:\s+OUTER)?\s+ANY\s+JOIN\b",
    ):
        # remaining ANY forms (ON-condition joins, FULL ANY, unknown
        # tables, non-table left side before RIGHT ANY) — a text-level
        # rewrite can't know the join keys or the survivor ordering, and
        # silently running as ALL JOIN would duplicate rows.
        raise ChTranslationError(
            "this ANY JOIN form has no faithful translation (supported: "
            "ANY LEFT/INNER JOIN <table> USING (...), and <table> RIGHT "
            "ANY JOIN <table> USING (...), with columns known via "
            "table_columns); deduplicate the keyed side first "
            "(row_number() = 1 per join key) and use a plain JOIN"
        )

    tot = _top_level_spans(sql, r"\bWITH\s+TOTALS\b")
    if tot:
        gb = _top_level_spans(sql, r"\bGROUP\s+BY\b")
        if not gb or gb[-1].start() > tot[0].start():
            raise ChTranslationError("WITH TOTALS without a GROUP BY")
        g = gb[-1]
        cols = sql[g.end() : tot[0].start()].strip()
        sql = (
            sql[: g.start()]
            + f"GROUP BY GROUPING SETS (({cols}), ())"
            + sql[tot[0].end() :]
        )
        notes.append(
            "WITH TOTALS → GROUPING SETS ((keys), ()): the totals row "
            "carries NULL group keys (ClickHouse shows type defaults: 0/'')"
        )

    if re.search(r"\buniq\s*\(", sql):
        notes.append("uniq() → approx_count_distinct(): HLL++ differs from "
                     "ClickHouse's uniq estimator; use uniqExact for exact counts")
    if re.search(r"\b(any|anyLast)\s*\(", sql):
        notes.append("any()/anyLast() → first()/last(): arbitrary-row pick in "
                     "both engines, value may differ")

    sql = _rewrite_array_join(sql)
    sql = _rewrite_limit_with_ties(_rewrite_limit_by(sql))
    out = _translate_functions(_rewrite_brackets(sql))
    out_names = _call_names(out)
    if "round" in out_names:
        notes.append(
            "round(): Spark rounds exact halves away from zero; CH"
            " banker's-rounds Float arguments at exact halfway points"
            " (CH rounds Decimals away from zero, matching Spark) —"
            " roundBankers() gives CH float behavior explicitly"
        )
    used_udfs = sorted(n for n in out_names if n in CH_UDF_NAMES)
    if used_udfs:
        notes.append(
            "Arrow-UDF-backed scalars: " + ", ".join(used_udfs)
            + " — ch_sql()/the CLI register them automatically; standalone"
            " spark.sql() callers must run chudfs.register_ch_udfs(spark)"
            " once per session"
        )
    return out, notes


_CH_SQL_CATALOG: "weakref.WeakKeyDictionary" = None  # lazy-initialized


def ch_sql(spark, sql: str, sf_dir: str, table_keys=None):
    """Run a ClickHouse-dialect query against the testdata tables: registers
    each table as a temp view (via load_table's timestamp normalization)
    and executes the translated SQL.  The parquet loads and the catalog
    walk are cached per session as a single ``(sf_dir, dfs, info)`` tuple —
    both are pure functions of the parquet schemas, and re-loading 10
    tables per query dominated the translation cost in multi-query runs.
    The temp views themselves are re-asserted from the cached DataFrames on
    EVERY call (a cheap driver-side catalog op), so an interleaved
    ``createOrReplaceTempView`` of one of these names by other code cannot
    silently leak into later ch_sql results.  Rewriting the parquet files
    under ``sf_dir`` mid-session is not detected."""
    global _CH_SQL_CATALOG
    import weakref

    from ..sources.tables import load_table

    if _CH_SQL_CATALOG is None:
        _CH_SQL_CATALOG = weakref.WeakKeyDictionary()
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    cached = _CH_SQL_CATALOG.get(spark)
    if cached is None or cached[0] != sf_dir:
        from .chudfs import register_ch_udfs

        register_ch_udfs(spark)  # once per session: ch_* Arrow scalars
        dfs = {t: load_table(spark, sf_dir, t) for t in tables}
        for t, df in dfs.items():
            df.createOrReplaceTempView(t)
        cached = (sf_dir, dfs, spark_catalog_info(spark, tables))
        _CH_SQL_CATALOG[spark] = cached
    else:
        for t, df in cached[1].items():
            df.createOrReplaceTempView(t)
    arr_cols, tbl_cols, str_cols = cached[2]
    translated, _notes = translate_ch_sql(
        sql,
        table_keys=table_keys,
        array_columns=arr_cols,
        table_columns=tbl_cols,
        string_columns=str_cols,
    )
    return spark.sql(translated)
