-- Converted from Snowflake Standard: WAREHOUSE.DIM_ACCOUNT
CREATE OR REPLACE ICEBERG TABLE WAREHOUSE.DIM_ACCOUNT (
    ACCOUNT_KEY NUMBER(38,0)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0015 - IDENTITY/AUTOINCREMENT not supported in Iceberg tables ***/!!!,
    ACCOUNT_CODE VARCHAR(40) NOT NULL,
    DISPLAY_NAME VARCHAR(200)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0017 - COLLATE clause not supported in Iceberg tables: 'en-ci' ***/!!!,
    PROFILE VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0001 - VARIANT not supported in Iceberg - converted to VARCHAR. Parse JSON at query time or use structured types ***/!!!,
    OPENED_AT TIMESTAMP_NTZ(6)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0007 - TIMESTAMP_NTZ precision adjusted to 6 for Iceberg compatibility ***/!!!,
    IS_LIVE BOOLEAN,
    SECRET_NOTE VARCHAR(500)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0016 - Masking policies need to be re-applied after conversion: pii_mask ***/!!!,
    PRIMARY KEY (ACCOUNT_KEY)
)
CATALOG = 'SNOWFLAKE'
EXTERNAL_VOLUME = '<EXTERNAL_VOLUME>'
BASE_LOCATION = 'warehouse/dim_account'

-- Original CLUSTER BY: (ACCOUNT_KEY)
-- NOTE: Iceberg uses automatic optimization instead of explicit clustering
-- Original DATA_RETENTION_TIME_IN_DAYS: 45
-- Original CHANGE_TRACKING: TRUE
-- UNIQUE (ACCOUNT_CODE)
-- NOTE: UNIQUE constraints are not enforced in Iceberg tables
-- Table comment: account dimension
;

-- Converted from Snowflake Standard: WAREHOUSE.FACT_SHIPMENTS
CREATE OR REPLACE ICEBERG TABLE WAREHOUSE.FACT_SHIPMENTS (
    SHIPMENT_KEY NUMBER(38,0),
    ACCOUNT_KEY NUMBER(38,0),
    SHIP_DATE DATE,
    FREIGHT NUMBER(18,4),
    MARGIN_PCT NUMBER(5,2),
    SHIPPED_TS TIMESTAMP_LTZ(6)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0008 - TIMESTAMP_LTZ precision adjusted to 6 for Iceberg compatibility ***/!!!,
    RECEIVED_TS TIMESTAMP_LTZ(6),
    ENTERED_TS TIMESTAMP_NTZ(6),
    PRIMARY KEY (SHIPMENT_KEY)
)
CATALOG = 'SNOWFLAKE'
EXTERNAL_VOLUME = '<EXTERNAL_VOLUME>'
BASE_LOCATION = 'warehouse/fact_shipments'

-- Original CLUSTER BY: (SHIP_DATE)
-- NOTE: Iceberg uses automatic optimization instead of explicit clustering
-- FOREIGN KEY (ACCOUNT_KEY) REFERENCES WAREHOUSE.DIM_ACCOUNT(ACCOUNT_KEY)
-- NOTE: Foreign keys are not enforced in Iceberg tables
;

-- Converted from Snowflake Standard: CATALOG.GOODS
CREATE OR REPLACE ICEBERG TABLE CATALOG.GOODS (
    GOOD_ID NUMBER(38,0),
    SPEC VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0002 - Semi-structured OBJECT not supported in Iceberg - converted to VARCHAR. Use structured OBJECT with defined schema instead ***/!!!,
    SITE VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0004 - GEOGRAPHY not supported in Iceberg - converted to VARCHAR. Store as WKT/GeoJSON string ***/!!!,
    OUTLINE VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0005 - GEOMETRY not supported in Iceberg - converted to VARCHAR. Store as WKT/GeoJSON string ***/!!!,
    KEYWORDS VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0003 - Semi-structured ARRAY not supported in Iceberg - converted to VARCHAR. Use structured ARRAY with defined element type instead ***/!!!,
    EXTRA VARCHAR
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0001 - VARIANT not supported in Iceberg - converted to VARCHAR. Parse JSON at query time or use structured types ***/!!!,
    MASS FLOAT,
    ADDED_AT TIME(6)
        !!!RESOLVE EWI!!! /*** SSC-EWI-SF2ICE-0006 - TIME precision adjusted to 6 (microseconds) for Iceberg compatibility ***/!!!
)
CATALOG = 'SNOWFLAKE'
EXTERNAL_VOLUME = '<EXTERNAL_VOLUME>'
BASE_LOCATION = 'catalog/goods'

-- UNIQUE (GOOD_ID)
-- NOTE: UNIQUE constraints are not enforced in Iceberg tables
;

-- TEMPORARY table kept as Snowflake Standard (not converted to Iceberg)
-- Reason: Iceberg does not support temporary tables
-- The table will remain session-scoped as originally intended
CREATE OR REPLACE TEMPORARY TABLE SCRATCH.CART_SNAPSHOT (
    SNAP_ID NUMBER(38,0) AUTOINCREMENT,
    CART_JSON VARCHAR(8000),
    TAKEN_AT TIMESTAMP_NTZ
);

-- TRANSIENT table kept as Snowflake Standard (not converted to Iceberg)
-- Reason: Iceberg tables always have durability (no transient option)
-- The table will remain without Fail-safe as originally intended
CREATE OR REPLACE TRANSIENT TABLE SCRATCH.RAW_LOADS (
    LOAD_ID NUMBER(38,0),
    PAYLOAD VARIANT,
    LOADED_AT TIMESTAMP_LTZ
);

-- !!!! DYNAMIC TABLE SKIPPED - Cannot convert to Iceberg !!!!
-- Table: REPORTS.DAILY_ROLLUP
-- Reason: Dynamic tables auto-refresh from a query and cannot be converted to Iceberg. Consider creating the underlying source tables as Iceberg instead.
-- Action required: Review and handle this table manually

-- !!!! EXTERNAL TABLE SKIPPED - Cannot convert to Iceberg !!!!
-- Table: LANDING.EVENTS_EXT
-- Reason: External tables reference data in external stages. Consider using Iceberg tables with the same external volume instead.
-- Action required: Review and handle this table manually

-- !!!! HYBRID TABLE SKIPPED - Cannot convert to Iceberg !!!!
-- Table: OLTP.ORDERS_LIVE
-- Reason: Hybrid tables are optimized for HTAP workloads. Iceberg tables have different performance characteristics for mixed workloads.
-- Action required: Review and handle this table manually